"""CLI coverage for the decoupled deployment shape: jobs/replay.py with
--compact-every 0 (ingest appends raw deltas, no inline folds) plus
jobs/maintain.py folding the backlog from a "separate process" (here:
the same interpreter calling the job's main(), which is exactly what
spark-submit executes). The library-level concurrency contract lives in
tests/test_occ.py; these tests pin the job wiring on top of it.
"""

from __future__ import annotations

import importlib.util
import json
import os

from pyspark_cdc import generate, manifest, oracle
from pyspark_cdc.sink import ParquetLake


def _load_job(name, tag):
    spec = importlib.util.spec_from_file_location(
        tag, os.path.join(os.path.dirname(__file__), "..", "jobs", name))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _final(lake):
    return {(r["repo"], r["path"]): r.asDict() for r in lake.read().collect()}


def test_decoupled_replay_then_maintain_matches_oracle(spark, tmp_path, capsys):
    """replay --compact-every 0 leaves one raw delta per micro-batch
    (no inline folds); maintain --once drains the whole backlog in one
    fold; the folded state equals the pure-Python oracle."""
    replay = _load_job("replay.py", "replay_job_decoupled")
    maintain = _load_job("maintain.py", "maintain_job")

    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=1_500, n_files=5,
                       n_keys=200, seed=13)
    table = str(tmp_path / "lake")

    replay.main([
        "--log-dir", log_dir, "--table-dir", table,
        "--mode", "stream", "--checkpoint", str(tmp_path / "ckpt"),
        "--compact-every", "0", "--max-files-per-trigger", "1",
        "--n-buckets", "8",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["merge"]["batches"] == 5

    lake = ParquetLake(spark, table, n_buckets=8, mode="mor",
                       compact_every=None)
    meta = lake.current_meta()
    assert manifest.raw_delta_count(meta) == 5, meta["deltas"]

    rc = maintain.main(["--table-dir", table, "--n-buckets", "8", "--once"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    fold = next(ln for ln in lines if ln["event"] == "fold")
    assert fold["backlog_before"] == 5 and fold["backlog_after"] == 0
    assert not fold["aborted"]
    done = next(ln for ln in lines if ln["event"] == "done")
    assert done["folds"] == 1 and done["backlog"] == 0

    exp = oracle.replay_parquet_log(log_dir)["state"]
    got = _final(ParquetLake(spark, table, n_buckets=8, mode="mor",
                             compact_every=None))
    assert set(got) == set(exp)
    for k in exp:
        assert got[k]["content"] == exp[k].get("content"), k


def test_maintain_rebucket_flag(spark, tmp_path, capsys):
    """maintain --rebucket N rewrites the table under the new bucket
    count, reports the committed snapshot, and exits 0."""
    maintain = _load_job("maintain.py", "maintain_job_rebucket")

    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=600, n_files=2,
                       n_keys=100, seed=5)
    table = str(tmp_path / "lake")
    lake = ParquetLake(spark, table, n_buckets=4, mode="mor",
                       compact_every=None)
    from pyspark_cdc.stream import process_batch
    process_batch(spark.read.parquet(log_dir), 0, lake)

    rc = maintain.main(["--table-dir", table, "--rebucket", "16"])
    assert rc == 0
    ev = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ev["event"] == "rebucket" and not ev["aborted"]

    reopened = ParquetLake(spark, table, n_buckets=4, mode="mor",
                           compact_every=None)
    assert reopened.n_buckets == 16
    exp = oracle.replay_parquet_log(log_dir)["state"]
    assert set(_final(reopened)) == set(exp)


def test_maintain_once_with_empty_backlog_is_a_noop(spark, tmp_path, capsys):
    """maintain --once on a lake with no outstanding deltas (or below
    --min-deltas) exits cleanly without committing a snapshot."""
    maintain = _load_job("maintain.py", "maintain_job_noop")

    table = str(tmp_path / "lake")
    lake = ParquetLake(spark, table, n_buckets=8, mode="mor",
                       compact_every=None)
    df = spark.read.parquet(
        generate.write_log(spark, str(tmp_path / "log"), n_events=300,
                           n_files=1, n_keys=50, seed=3))
    from pyspark_cdc.stream import process_batch
    process_batch(df, 0, lake)
    snap_before = lake.current_meta()["id"]

    rc = maintain.main(["--table-dir", table, "--n-buckets", "8", "--once",
                        "--min-deltas", "5"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert all(ln["event"] != "fold" for ln in lines)
    done = next(ln for ln in lines if ln["event"] == "done")
    assert done["folds"] == 0 and done["backlog"] == 1
    assert done["snapshot"] == snap_before


def test_maintain_full_major_without_deltas_counts_its_fold(
    spark, tmp_path, capsys
):
    """maintain --min-deltas 0 --once --full on a lake with a base and no
    outstanding delta commits a full major (the tombstone-expiry run) and
    reports it as a fold, not as an abort."""
    maintain = _load_job("maintain.py", "maintain_job_full")

    table = str(tmp_path / "lake")
    lake = ParquetLake(spark, table, n_buckets=8, mode="mor",
                       compact_every=None)
    df = spark.read.parquet(
        generate.write_log(spark, str(tmp_path / "log"), n_events=300,
                           n_files=1, n_keys=50, seed=3))
    from pyspark_cdc.stream import process_batch
    process_batch(df, 0, lake)
    lake.compact_now("major")
    before = lake.current_meta()
    assert before["buckets"] and before["deltas"] == []
    state = _final(lake)

    rc = maintain.main(["--table-dir", table, "--n-buckets", "8", "--once",
                        "--min-deltas", "0", "--full"])
    assert rc == 0
    lines = [json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    fold = next(ln for ln in lines if ln["event"] == "fold")
    assert not fold["aborted"]
    assert fold["snapshot"] > before["id"]
    done = next(ln for ln in lines if ln["event"] == "done")
    assert done["folds"] == 1 and done["backlog"] == 0
    after = ParquetLake(spark, table, n_buckets=8, mode="mor",
                        compact_every=None)
    assert after.current_meta()["buckets"] != before["buckets"]
    assert _final(after) == state


def test_maintain_rollback_flag(spark, tmp_path, capsys):
    """maintain --rollback-to N restores the retained snapshot as a new
    commit, reports it, and exits 0; rolling back to the current
    snapshot is a no-op success."""
    maintain = _load_job("maintain.py", "maintain_job_rollback")

    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=600, n_files=2,
                      n_keys=100, seed=6)
    table = str(tmp_path / "lake")
    lake = ParquetLake(spark, table, n_buckets=4, mode="mor",
                       compact_every=None)
    from pyspark_cdc.stream import process_batch
    process_batch(spark.read.parquet(log_dir), 0, lake)
    good = lake.current_meta()["id"]
    good_state = set(_final(lake))

    # the bad batch: clobber every key's content
    bad = spark.read.parquet(log_dir).limit(50)
    process_batch(bad.withColumn("offset", bad["offset"] + 10_000), 1, lake)

    rc = maintain.main(["--table-dir", table, "--rollback-to", str(good)])
    assert rc == 0
    ev = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ev["event"] == "rollback" and not ev["aborted"]
    assert ev["to_snapshot"] == good

    reopened = ParquetLake(spark, table, n_buckets=4, mode="mor",
                          compact_every=None)
    assert set(_final(reopened)) == good_state


def test_stream_resume_zero_batches_with_fresh_metrics_dir(
    spark, tmp_path, capsys
):
    """A drained stream restarted with a metrics dir that has no lineage
    yet (zero batches run this time) must exit cleanly and print its
    summary — the summary read previously crashed on PATH_NOT_FOUND
    because the lineage dir is only created when a batch writes rows."""
    replay = _load_job("replay.py", "replay_job_zero_batch")

    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=400, n_files=2,
                      n_keys=80, seed=21)
    table = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    rc = replay.main([
        "--log-dir", log_dir, "--table-dir", table, "--mode", "stream",
        "--checkpoint", ckpt, "--n-buckets", "8",
    ])
    assert rc in (0, None)
    capsys.readouterr()

    # resume: nothing new to ingest, metrics dir FRESH => lineage dir
    # never created this run
    rc = replay.main([
        "--log-dir", log_dir, "--table-dir", table, "--mode", "stream",
        "--checkpoint", ckpt, "--n-buckets", "8",
        "--metrics-dir", str(tmp_path / "fresh_metrics"),
    ])
    assert rc in (0, None)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["merge"]["status"] == "stream_drained"
    assert out["merge"]["batches"] >= 1  # table-level count, prior run's
