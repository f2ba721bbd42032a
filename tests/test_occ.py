"""Optimistic concurrency control: multiple writers on ONE table — the
decoupled ingest + maintenance deployment (the Iceberg operational
model; the reference runs exactly one consumer per topic,
meilisearch-sync-service/main.go:58-64, so this is strictly stronger).
The commit lock is held only for the O(ms) manifest check+write+swap,
never across a Spark job; a conflicting commit REBASES (re-expresses
its intent on the fresh snapshot) or, for a fold whose input deltas a
concurrent compaction already consumed, ABORTS cleanly (its
never-referenced output dir is dropped).

Interleavings are made deterministic with ParquetLake._pre_commit_hook,
which fires before every optimistic commit attempt — i.e. exactly in
the read→commit race window."""

from __future__ import annotations

import json
import os
import time

import pytest

import pyspark_cdc.sink as sink_mod
from pyspark_cdc.oracle import replay
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch


def _rec(value, off):
    return {"key": None, "value": value, "topic": "t", "partition": 0,
            "offset": off}


def _env(op, after=None, before=None, lsn=0):
    p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
    if after is not None:
        p["after"] = after
    if before is not None:
        p["before"] = before
    return json.dumps({"payload": p})


def _row(i, v):
    return {"repo": "r", "path": f"p{i}", "commit": "c", "lang": "py",
            "content": f"v{v}"}


def _upserts(spark, ids, version, lsn0):
    """One batch of upserts: key p{i} -> content v{version}."""
    recs = [_rec(_env("u", after=_row(i, version), lsn=lsn0 + j), lsn0 + j)
            for j, i in enumerate(ids)]
    return spark.createDataFrame(recs, schema=KAFKA_SHAPE), recs


def _state(lake, **kw):
    return {(r["repo"], r["path"]): r["content"]
            for r in lake.read(**kw).collect()}


def _oracle_state(recs):
    recs = sorted((dict(r) for r in recs),
                  key=lambda r: (r["offset"], r["partition"]))
    return {k: v.get("content") for k, v in replay(recs)["state"].items()}


def _mor(spark, path, **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("mode", "mor")
    kw.setdefault("compact_every", None)  # decoupled: no inline folds
    return ParquetLake(spark, str(path), **kw)


def _data_dirs(table_dir):
    root = os.path.join(str(table_dir), "data")
    return sorted(os.listdir(root)) if os.path.isdir(root) else []


def _one_shot(lake, fn):
    """Arm lake's pre-commit hook to run fn exactly once."""
    def hook():
        lake._pre_commit_hook = None
        fn()
    lake._pre_commit_hook = hook


def test_concurrent_delta_appends_rebase_and_keep_both(spark, tmp_path):
    """Writer A's commit races writer B's: A built its manifest on a
    snapshot B advances first. A must NOT fail and must NOT lose B's
    commit — it rebases: re-appends its delta entry on B's manifest.
    Both batches land; final state equals the serial oracle."""
    a = _mor(spark, tmp_path / "t")
    b = _mor(spark, tmp_path / "t")

    b0, recs0 = _upserts(spark, [1, 2, 3], 1, 10)
    process_batch(b0, 0, a)

    b1, recs1 = _upserts(spark, [2, 4], 2, 20)   # B's racing batch
    b2, recs2 = _upserts(spark, [3, 5], 3, 30)   # A's batch, loses the race
    _one_shot(a, lambda: process_batch(b1, 1, b))
    s = process_batch(b2, 2, a)
    assert s["status"] == "committed"

    meta = a.current_meta()
    assert len(meta["deltas"]) == 3          # nothing lost, nothing doubled
    assert sorted(a.applied_batch_ids()) == [0, 1, 2]
    assert _state(a) == _oracle_state(recs0 + recs1 + recs2)
    # every committed delta entry points at a distinct, existing dir —
    # per-attempt unique names mean racing writers can never alias a path
    paths = [d["path"] for d in meta["deltas"]]
    assert len(set(paths)) == 3
    for p in paths:
        assert os.path.isdir(os.path.join(str(tmp_path / "t"), p))


def test_duplicate_batch_race_drops_loser_and_its_dir(spark, tmp_path):
    """Two workers replay the SAME batch id (a streaming epoch retry
    racing the original attempt): the loser's rebase detects the batch
    is already applied, reports skipped_duplicate_batch, and removes its
    orphan output dir — the table holds the batch exactly once."""
    a = _mor(spark, tmp_path / "t")
    b = _mor(spark, tmp_path / "t")

    bdf, recs = _upserts(spark, [1, 2, 3], 1, 10)
    bdf2, _ = _upserts(spark, [1, 2, 3], 1, 10)
    _one_shot(a, lambda: process_batch(bdf2, 7, b))
    s = process_batch(bdf, 7, a)
    assert s["status"] == "skipped_duplicate_batch"

    meta = a.current_meta()
    assert len(meta["deltas"]) == 1
    assert a.applied_batch_ids() == [7]
    assert _state(a) == _oracle_state(recs)
    # the loser's uniquely-named dir was rmtree'd: only the winner's
    # delta dir exists on disk
    assert _data_dirs(tmp_path / "t") == sorted(
        d["path"].split(os.sep)[-1] for d in meta["deltas"]
    )


def test_duplicate_empty_batch_race_reports_one_commit(spark, tmp_path):
    """Two workers replay the SAME empty batch id on one parent: both
    build the identical empty-batch manifest, but only one commits it.
    The loser's rebase finds the batch applied and reports
    skipped_duplicate_batch, so exactly one worker reports the commit."""
    a = _mor(spark, tmp_path / "t")
    b = _mor(spark, tmp_path / "t")
    bdf, _ = _upserts(spark, [1], 1, 10)
    process_batch(bdf, 0, a)
    parent = a.current_meta()["id"]

    empty = spark.createDataFrame([], schema=KAFKA_SHAPE)
    racer = {}
    _one_shot(a, lambda: racer.update(process_batch(empty, 1, b)))
    s = process_batch(empty, 1, a)

    assert racer["status"] == "empty_batch"
    assert racer["snapshot"] == parent + 1
    assert s["status"] == "skipped_duplicate_batch"
    assert a.current_meta()["id"] == parent + 1
    assert sorted(a.applied_batch_ids()) == [0, 1]


def test_compaction_rebases_over_concurrent_ingest(spark, tmp_path):
    """The decoupled maintenance fold races the ingest job: ingest
    commits a NEW delta between the fold's read and its commit. The fold
    rebases — its folded base lands AND the new delta stays outstanding
    (strictly newer than anything folded, so LWW over folded-base ∪
    new-delta is exact)."""
    ing = _mor(spark, tmp_path / "t")
    mnt = _mor(spark, tmp_path / "t")

    all_recs = []
    for i in range(3):
        bdf, recs = _upserts(spark, [1 + i, 2 + i, 3 + i], i + 1, 10 * i)
        process_batch(bdf, i, ing)
        all_recs += recs
    assert len(ing.current_meta()["deltas"]) == 3  # no inline folds ran

    bdf, recs = _upserts(spark, [1, 9], 9, 100)    # the racing ingest
    all_recs += recs
    _one_shot(mnt, lambda: process_batch(bdf, 99, ing))
    meta = mnt.compact_now(tier="major")

    assert meta["buckets"]                          # the fold landed
    assert len(meta["deltas"]) == 1                 # the racer survives
    assert meta["deltas"][0]["routes"] == ["t"]
    assert sorted(mnt.applied_batch_ids()) == [0, 1, 2, 99]
    assert _state(mnt) == _oracle_state(all_recs)
    # and a later quiet fold drains the leftover delta
    meta = mnt.compact_now(tier="major")
    assert meta["deltas"] == []
    assert _state(mnt) == _oracle_state(all_recs)


def test_concurrent_compactions_loser_aborts_cleanly(spark, tmp_path):
    """Two maintenance processes fold the same backlog: the loser's
    input deltas were already consumed when it reaches the commit, so it
    aborts — drops its never-referenced output dir, leaves the winner's
    fold as the table — rather than double-applying or failing loudly."""
    ing = _mor(spark, tmp_path / "t")
    m1 = _mor(spark, tmp_path / "t")
    m2 = _mor(spark, tmp_path / "t")

    all_recs = []
    for i in range(2):
        bdf, recs = _upserts(spark, [1 + i, 2 + i], i + 1, 10 * i)
        process_batch(bdf, i, ing)
        all_recs += recs

    winner = {}
    _one_shot(m1, lambda: winner.update(m2.compact_now(tier="major")))
    got = m1.compact_now(tier="major")

    assert winner["deltas"] == []               # m2's fold is the table
    assert got == m1.current_meta() == ing.current_meta()
    assert got["id"] == winner["id"]            # m1 committed NOTHING
    assert _state(m1) == _oracle_state(all_recs)
    # m1's orphaned fold output is gone: exactly ONE fold-output (s*)
    # dir exists on disk — the winner's. The old delta dirs legitimately
    # remain (still referenced by retained snapshots for time travel).
    winner_base = {v.split(os.sep + sink_mod.BUCKET_COL + "=", 1)[0]
                   .split(os.sep)[-1]
                   for v in got["buckets"].values()}
    s_dirs = {d for d in _data_dirs(tmp_path / "t") if d.startswith("s")}
    assert s_dirs == winner_base and len(s_dirs) == 1


def test_decoupled_ingest_plus_maintenance_equals_inline(spark, tmp_path):
    """End-to-end decoupled deployment: an ingest lake built with
    compact_every=None (never folds inline) plus a separate maintenance
    instance calling compact_now() produces the same final state as a
    classic inline-compaction lake over the same batches."""
    ing = _mor(spark, tmp_path / "dec")
    mnt = _mor(spark, tmp_path / "dec")
    inline = ParquetLake(spark, str(tmp_path / "inl"), n_buckets=4,
                         mode="mor", compact_every=2, major_every=2)

    all_recs = []
    for i in range(6):
        ids = [1 + (i % 3), 4 + i]
        bdf, recs = _upserts(spark, ids, i + 1, 10 * i)
        bdf2 = spark.createDataFrame(recs, schema=KAFKA_SHAPE)
        process_batch(bdf, i, ing)
        process_batch(bdf2, i, inline)
        all_recs += recs
        if i % 2 == 1:
            mnt.compact_now()                   # tiered auto policy

    assert _state(ing) == _state(inline) == _oracle_state(all_recs)
    assert ing.current_meta()["buckets"]        # majors really ran


def test_orphan_grace_protects_inflight_dirs(spark, tmp_path):
    """expire_snapshots must not delete an unreferenced-but-young dir:
    with concurrent writers it may be another writer's fully-written,
    not-yet-committed output. Past the grace period (or with the
    single-writer grace=0 default) it is swept as a true orphan."""
    lake = _mor(spark, tmp_path / "t", orphan_grace_sec=3600.0)
    bdf, _ = _upserts(spark, [1, 2], 1, 10)
    process_batch(bdf, 0, lake)

    inflight = os.path.join(str(tmp_path / "t"), "data", "zz-inflight")
    os.makedirs(inflight)
    lake.expire_snapshots()
    assert os.path.isdir(inflight)              # young: protected

    old = time.time() - 7200
    os.utime(inflight, (old, old))
    lake.expire_snapshots()
    assert not os.path.isdir(inflight)          # past grace: swept

    eager = _mor(spark, tmp_path / "t", orphan_grace_sec=0.0)
    os.makedirs(inflight)
    eager.expire_snapshots()
    assert not os.path.isdir(inflight)          # grace 0: eager sweep


def test_stale_commit_lock_is_broken(spark, tmp_path):
    """A holder that died between acquire and release must not wedge the
    table: a lock file older than COMMIT_LOCK_STALE_SEC is presumed dead
    and broken; a live (fresh) lock times out with a clear error."""
    lake = _mor(spark, tmp_path / "t")
    lock = os.path.join(str(tmp_path / "t"), "_meta", "commit.lock")

    with open(lock, "w") as f:
        f.write("dead-writer")
    old = time.time() - 2 * sink_mod.COMMIT_LOCK_STALE_SEC
    os.utime(lock, (old, old))

    bdf, recs = _upserts(spark, [1, 2], 1, 10)
    process_batch(bdf, 0, lake)                 # breaks the stale lock
    assert _state(lake) == _oracle_state(recs)
    assert not os.path.exists(lock)


def test_live_commit_lock_times_out(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sink_mod, "COMMIT_LOCK_TIMEOUT_SEC", 0.2)
    lake = _mor(spark, tmp_path / "t")
    lock = os.path.join(str(tmp_path / "t"), "_meta", "commit.lock")
    with open(lock, "w") as f:
        f.write("live-writer")                  # fresh mtime: not stale
    bdf, _ = _upserts(spark, [1], 1, 10)
    with pytest.raises(TimeoutError, match="commit lock"):
        process_batch(bdf, 0, lake)


def test_rebase_loop_gives_up_under_writer_storm(spark, tmp_path, monkeypatch):
    """The OCC loop is bounded: if every retry keeps losing the race it
    raises a diagnosable error instead of spinning forever."""
    monkeypatch.setattr(sink_mod, "OCC_MAX_RETRIES", 1)
    a = _mor(spark, tmp_path / "t")
    b = _mor(spark, tmp_path / "t")

    nxt = iter(range(100, 200))

    def storm():  # re-arms forever: A can never win
        i = next(nxt)
        bdf, _ = _upserts(spark, [i], 1, 10 * i)
        process_batch(bdf, i, b)

    a._pre_commit_hook = storm
    bdf, _ = _upserts(spark, [1], 1, 10)
    with pytest.raises(RuntimeError, match="did not converge"):
        process_batch(bdf, 0, a)
