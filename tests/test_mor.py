"""Merge-on-read lake: delta-append merges, read-time LWW, periodic
compaction — final state must equal the pure-Python oracle on the same
log whether LWW resolves at read time or in a fold into the base (max_by
is associative, so WHERE the LWW resolves cannot change the winner)."""

from __future__ import annotations

import os

from conftest import assert_state_equal

from pyspark_cdc import generate, manifest
from pyspark_cdc.oracle import replay, replay_parquet_log
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import replay_batch, replay_stream


def _rows(lake):
    return {
        (r["repo"], r["path"]): r.asDict() for r in lake.read().collect()
    }


def _write_log(spark, tmp_path, n=3_000, files=6):
    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=n, n_keys=300, n_files=files, seed=42)
    return log_dir


def test_mor_equals_oracle(spark, tmp_path):
    """The same log lands the oracle's state, every column, both with
    the batch outstanding as a delta (read-time LWW) and folded into the
    base right after the batch (compact_every=1, major_every=1)."""
    log_dir = _write_log(spark, tmp_path)
    oracle = replay_parquet_log(log_dir)["state"]

    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=16, mode="mor")
    replay_batch(spark, log_dir, mor)
    assert mor.current_meta()["buckets"] == {}
    assert_state_equal(_rows(mor), oracle)

    folded = ParquetLake(spark, str(tmp_path / "folded"), n_buckets=16,
                         compact_every=1, major_every=1)
    replay_batch(spark, log_dir, folded)
    assert folded.current_meta()["deltas"] == []
    assert_state_equal(_rows(folded), oracle)


def test_mor_streaming_compacts_and_stays_correct(spark, tmp_path):
    log_dir = _write_log(spark, tmp_path, n=4_000, files=8)
    mor = ParquetLake(
        spark, str(tmp_path / "mor"), n_buckets=16, mode="mor", compact_every=3
    )
    q = replay_stream(
        spark, log_dir, mor, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    meta = mor.current_meta()
    # 8 batches with compact_every=3 => at least two compactions happened
    # and pending RAW deltas are below the threshold (a minor fold's
    # merged delta may ride along until the next major)
    assert manifest.raw_delta_count(meta) < 3
    assert len(meta["deltas"]) <= 3
    assert len(mor.applied_batch_ids()) == 8

    assert_state_equal(_rows(mor), replay_parquet_log(log_dir)["state"])


def test_mor_duplicate_batch_is_noop(spark, tmp_path):
    log_dir = _write_log(spark, tmp_path, n=1_000, files=2)
    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=8, mode="mor")
    s1 = replay_batch(spark, log_dir, mor, batch_id=7)
    before = _rows(mor)
    s2 = replay_batch(spark, log_dir, mor, batch_id=7)
    assert s2["status"] == "skipped_duplicate_batch"
    assert _rows(mor) == before
    assert s1["status"] == "committed"


def test_compaction_expires_snapshots_and_orphan_dirs(spark, tmp_path):
    """Long-tail hygiene: after compactions, old snap-*.json files are
    expired and data dirs referenced by no kept snapshot are removed;
    applied-batch tracking stays bounded (watermark + window) yet every
    batch id remains recorded."""
    log_dir = _write_log(spark, tmp_path, n=3_000, files=6)
    mor = ParquetLake(
        spark, str(tmp_path / "mor"), n_buckets=8, mode="mor", compact_every=2
    )
    q = replay_stream(
        spark, log_dir, mor, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    meta = mor.current_meta()
    assert meta["batch_wm"] == 5 and meta["recent_batch_ids"] == []
    assert mor.applied_batch_ids() == list(range(6))

    meta_dir = str(tmp_path / "mor" / "_meta")
    snaps = [f for f in os.listdir(meta_dir) if f.startswith("snap-")]
    assert len(snaps) <= 8 + 1  # retention window (+current), not one per commit

    # every remaining data dir is referenced by the kept snapshots
    from pyspark_cdc.sink import BUCKET_COL
    import json as _json
    referenced = set()
    for f in snaps:
        m = _json.load(open(os.path.join(meta_dir, f)))
        referenced |= {p.split(os.sep + BUCKET_COL + "=", 1)[0]
                       for p in m["buckets"].values()}
        referenced |= {d["path"] for d in m["deltas"]}
    on_disk = {os.path.join("data", d)
               for d in os.listdir(str(tmp_path / "mor" / "data"))}
    assert on_disk <= referenced

    # final state still equals the oracle
    assert_state_equal(_rows(mor), replay_parquet_log(log_dir)["state"])


def test_crash_between_delta_write_and_commit_is_safe(spark, tmp_path):
    """A crash AFTER the delta write but BEFORE the manifest commit
    leaves an orphan data dir and no snapshot; Structured Streaming
    retries the epoch, whose write lands in a FRESH uniquely-named dir
    (names are per-attempt since the OCC work — concurrent writers must
    never share a target path), so the orphan is never read: no manifest
    references it, and expire_snapshots sweeps it. Final state is exact
    even with corrupt garbage left at the crashed attempt's path."""
    import json as _json
    import os as _os

    from pyspark_cdc.oracle import replay
    from pyspark_cdc.stream import process_batch

    log_dir = _write_log(spark, tmp_path, n=800, files=2)
    recs = [r.asDict() for r in spark.read.parquet(log_dir).collect()]
    b = spark.createDataFrame(recs, schema=spark.read.parquet(log_dir).schema)

    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=8, mode="mor")
    # simulate the crashed first attempt: a partial delta dir for the
    # snapshot id the retry will use, containing garbage
    orphan = _os.path.join(str(tmp_path / "mor"), "data", "d1", "status=ok")
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-corrupt.parquet"), "w") as f:
        f.write("not a parquet file")

    process_batch(b, 0, mor)  # the retry
    got = _rows(mor)
    exp = replay(recs)["state"]
    assert set(got) == set(exp)
    for k in exp:
        assert got[k].get("content") == exp[k].get("content"), k


def test_snapshot_time_travel(spark, tmp_path):
    """read(snapshot_id=N) returns the table exactly as of snapshot N
    (VERSION AS OF analog) for any snapshot inside the retention window."""
    log_dir = _write_log(spark, tmp_path, n=1_500, files=3)
    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=8, mode="mor")
    q = replay_stream(
        spark, log_dir, mor, checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    current = mor.current_meta()["id"]
    assert current >= 3

    # state as of snapshot 1 = replaying only batch 0 into a fresh lake;
    # the checkpoint's source log records exactly which file batch 0 read
    import json as _json

    src_log = tmp_path / "ckpt" / "sources" / "0" / "0"
    batch0_files = [
        _json.loads(line)["path"]
        for line in src_log.read_text().splitlines()
        if line.startswith("{")
    ]
    assert len(batch0_files) == 1
    first_batch = ParquetLake(spark, str(tmp_path / "fb"), n_buckets=8, mode="mor")
    b0 = spark.read.schema(spark.read.parquet(log_dir).schema).parquet(
        *batch0_files
    )
    from pyspark_cdc.stream import process_batch
    process_batch(b0, 0, first_batch)

    past = {
        (r["repo"], r["path"]): r.asDict()
        for r in mor.read(snapshot_id=1).collect()
    }
    assert past == _rows(first_batch)
    assert _rows(mor) != past  # and the table did move on


def test_tombstone_horizon_expires_old_deletes(spark, tmp_path):
    """Tombstone retention: with tombstone_horizon_lsn set, compaction
    drops delete tombstones older than the source's replay horizon —
    nothing older than the horizon can be replayed, so the guard is no
    longer needed and the table stops accumulating dead keys."""
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0, "offset": off}

    def env(op, after=None, before=None, lsn=0):
        p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
        if after is not None:
            p["after"] = after
        if before is not None:
            p["before"] = before
        return json.dumps({"payload": p})

    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=4, mode="mor",
        compact_every=1, tombstone_horizon_lsn=10,
    )
    row = {"repo": "r", "path": "p", "commit": "c", "lang": "py", "content": "v1"}
    b = spark.createDataFrame(
        [rec(env("c", after=row, lsn=1), 1),
         rec(env("d", before={"repo": "r", "path": "p"}, lsn=5), 2)],
        schema=KAFKA_SHAPE,
    )
    process_batch(b, 0, lake)  # compact_every=1 => compaction ran
    assert lake.read().count() == 0
    # the lsn-5 tombstone is older than the horizon (10) => expired
    assert lake.read(include_deleted=True).count() == 0


def test_tiered_compaction_minor_then_major(spark, tmp_path):
    """LSM-style tiering: the first compaction (no base) is MAJOR; the
    next is MINOR (deltas merged into one flat delta, base untouched);
    with major_every=2 the one after folds into the base again. A delta
    tombstone must survive minor compaction (it still has to delete a
    base row at the next major)."""
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0,
                "offset": off}

    def env(op, after=None, before=None, lsn=0):
        p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
        if after is not None:
            p["after"] = after
        if before is not None:
            p["before"] = before
        return json.dumps({"payload": p})

    def row(i, v):
        return {"repo": "r", "path": f"p{i}", "commit": "c", "lang": "py",
                "content": f"v{v}"}

    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=4, mode="mor",
        compact_every=2, major_every=2,
    )

    def feed(bid, recs_):
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake
        )

    # batches 0,1 -> compaction #1: base empty => MAJOR
    feed(0, [rec(env("c", after=row(1, 1), lsn=1), 1)])
    feed(1, [rec(env("c", after=row(2, 2), lsn=2), 2)])
    m = lake.current_meta()
    assert m["buckets"] and m["deltas"] == [] and m["minor_count"] == 0
    base_buckets = dict(m["buckets"])

    # batches 2,3 (incl. a tombstone for p1) -> compaction #2: MINOR
    feed(2, [rec(env("d", before={"repo": "r", "path": "p1"}, lsn=3), 3)])
    feed(3, [rec(env("u", after=row(3, 4), lsn=4), 4)])
    m = lake.current_meta()
    assert m["minor_count"] == 1
    assert len(m["deltas"]) == 1 and m["deltas"][0]["path"].startswith(
        "data/m"
    )
    assert m["buckets"] == base_buckets  # base untouched by the minor fold
    # the tombstone survives the minor fold and still deletes on read
    assert ("r", "p1") not in _rows(lake)
    dels = lake.read(include_deleted=True, include_internal=True).filter(
        "__deleted"
    )
    assert dels.count() == 1

    # batches 4,5 -> compaction #3: minor_count reached major_every-1 => MAJOR
    feed(4, [rec(env("u", after=row(4, 5), lsn=5), 5)])
    feed(5, [rec(env("u", after=row(5, 6), lsn=6), 6)])
    m = lake.current_meta()
    assert m["deltas"] == [] and m["minor_count"] == 0
    assert m["buckets"] != base_buckets  # base rewritten

    assert {k: v.get("content") for k, v in _rows(lake).items()} == {
        ("r", "p2"): "v2", ("r", "p3"): "v4", ("r", "p4"): "v5",
        ("r", "p5"): "v6",
    }


def test_mor_late_older_upsert_loses_to_tombstone(spark, tmp_path):
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0, "offset": off}

    def env(op, after=None, before=None, lsn=0):
        p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
        if after is not None:
            p["after"] = after
        if before is not None:
            p["before"] = before
        return json.dumps({"payload": p})

    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor")
    row = {"repo": "r", "path": "p", "commit": "c", "lang": "py", "content": "v1"}

    from pyspark_cdc.stream import process_batch

    b1 = spark.createDataFrame(
        [rec(env("c", after=row, lsn=1), 1), rec(env("d", before={"repo": "r", "path": "p"}, lsn=5), 2)],
        schema=KAFKA_SHAPE,
    )
    process_batch(b1, 0, mor)
    # late replay of an OLDER upsert (lsn 3 < tombstone lsn 5) in a new batch
    b2 = spark.createDataFrame(
        [rec(env("u", after=dict(row, content="v3"), lsn=3), 3)], schema=KAFKA_SHAPE
    )
    process_batch(b2, 1, mor)
    assert _rows(mor) == {}  # tombstone still wins at read time


def test_minor_compaction_all_dead_letter_backlog(spark, tmp_path):
    """Regression (round-3 red test, deterministic repro): a delta backlog
    whose rows are ALL dead letters folds to ZERO ok rows at the MINOR
    tier. The fold must commit `deltas: []` instead of registering a
    file-less directory as a flat delta — otherwise every subsequent
    lake.read() dies with UNABLE_TO_INFER_SCHEMA."""
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0,
                "offset": off}

    def upsert(repo, path, lsn):
        return rec(json.dumps({"payload": {
            "op": "c", "source": {"lsn": lsn, "ts_ms": lsn},
            "after": {"repo": repo, "path": path, "commit": f"c{lsn}",
                      "lang": "py", "content": f"v{lsn}"},
        }}), lsn)

    # compact_every=2, major_every=2: batches 0-1 -> MAJOR fold (creates
    # the base); batches 2-3 (dead letters only) -> MINOR fold over a
    # zero-ok-row backlog — the exact round-3 failure shape.
    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor",
                      compact_every=2, major_every=2)
    process_batch(spark.createDataFrame(
        [upsert("r0", "a", 1)], schema=KAFKA_SHAPE), 0, mor)
    process_batch(spark.createDataFrame(
        [upsert("r0", "b", 2)], schema=KAFKA_SHAPE), 1, mor)
    base_state = _rows(mor)
    assert set(base_state) == {("r0", "a"), ("r0", "b")}

    bad = [rec('{"payload": {nope', 10), rec("", 11)]  # malformed + tombstone
    process_batch(spark.createDataFrame(bad, schema=KAFKA_SHAPE), 2, mor)
    process_batch(spark.createDataFrame(bad, schema=KAFKA_SHAPE), 3, mor)

    meta = mor.current_meta()
    assert meta["deltas"] == []  # zero-row fold dropped, not registered
    assert _rows(mor) == base_state  # read survives and is unchanged

    # the table keeps working: a later normal batch lands and reads back
    process_batch(spark.createDataFrame(
        [upsert("r1", "c", 20)], schema=KAFKA_SHAPE), 4, mor)
    assert ("r1", "c") in _rows(mor)


def test_major_compaction_expired_tombstones_only(spark, tmp_path):
    """An empty MAJOR fold: a table whose only rows are tombstones older
    than tombstone_horizon_lsn compacts to ZERO buckets. read() must
    return an empty frame (not crash), and later batches must land."""
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0,
                "offset": off}

    def delete(repo, path, lsn):
        return rec(json.dumps({"payload": {
            "op": "d", "source": {"lsn": lsn, "ts_ms": lsn},
            "before": {"repo": repo, "path": path},
        }}), lsn)

    # every batch triggers a MAJOR fold; horizon expires all tombstones
    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor",
                      compact_every=1, major_every=1,
                      tombstone_horizon_lsn=100)
    process_batch(spark.createDataFrame(
        [delete("r0", "a", 5)], schema=KAFKA_SHAPE), 0, mor)

    meta = mor.current_meta()
    assert meta["buckets"] == {} and meta["deltas"] == []
    assert _rows(mor) == {}
    assert mor.read(include_deleted=True).count() == 0

    process_batch(spark.createDataFrame([rec(json.dumps({"payload": {
        "op": "c", "source": {"lsn": 200, "ts_ms": 200},
        "after": {"repo": "r1", "path": "b", "commit": "c", "lang": "py",
                  "content": "v"},
    }}), 1)], schema=KAFKA_SHAPE), 1, mor)
    assert set(_rows(mor)) == {("r1", "b")}


def test_manifest_records_routes_and_bytes(spark, tmp_path):
    """Every delta manifest entry carries its merge-relevant byte count
    and ok-route list at commit time (ADVICE round 3: readers sum
    manifest integers, not re-walk delta trees — and dead-letter bytes
    must not bias read_changes' broadcast switch)."""
    import json

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    def rec(value, off, topic="t1"):
        return {"key": None, "value": value, "topic": topic, "partition": 0,
                "offset": off}

    def upsert(repo, path, lsn, topic):
        return rec(json.dumps({"payload": {
            "op": "c", "source": {"lsn": lsn, "ts_ms": lsn},
            "after": {"repo": repo, "path": path, "commit": f"c{lsn}",
                      "lang": "py", "content": "x" * 200},
        }}), lsn, topic)

    mor = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=4, mode="mor")
    batch = [upsert("r0", "a", 1, "t1"), upsert("r1", "b", 2, "t2"),
             rec('{"payload": {broken', 3)]  # one dead letter
    process_batch(spark.createDataFrame(batch, schema=KAFKA_SHAPE), 0, mor)

    (delta,) = mor.current_meta()["deltas"]
    assert delta["routes"] == ["t1", "t2"]  # ok routes only, sorted
    assert delta["bytes"] > 0

    # independent verification walker (the engine itself uses the Hadoop
    # FileSystem's getContentSummary — no os.walk in any commit path).
    # Hidden files skipped: the local ChecksumFileSystem writes .crc
    # sidecars that getContentSummary rightly excludes from data bytes.
    def walk_bytes(path):
        return sum(
            os.path.getsize(os.path.join(cur, f))
            for cur, _dirs, files in os.walk(path)
            for f in files if not f.startswith(".")
        )

    # manifest bytes == the ok partition's on-disk bytes, excluding the
    # dead-letter partition
    ok_bytes = walk_bytes(
        os.path.join(mor.table_dir, delta["path"], "status=ok"))
    all_bytes = walk_bytes(os.path.join(mor.table_dir, delta["path"]))
    assert delta["bytes"] == ok_bytes < all_bytes
    # the touched-bucket list is recorded for subset majors (one bucket
    # per ok key here at most, never the dead letter)
    assert 0 < len(delta["buckets"]) <= 2
    assert all(0 <= b < mor.n_buckets for b in delta["buckets"])


def test_obs_get_zero_row_write_guard(tmp_path):
    """ParquetLake._obs_get: the Spark 4.1 zero-row-partitionBy quirk
    (Observation.get throws AssertionError in toPyRow) must fall back to
    the zero-row defaults ONLY when the written dir really has no
    partition dirs; a toPyRow failure with data on disk, or any other
    failure, must re-raise (a silent empty-metrics substitute there
    would corrupt the manifest)."""
    import pytest

    class _Obs:
        def __init__(self, exc=None, metrics=None):
            self._exc, self._metrics = exc, metrics

        @property
        def get(self):
            if self._exc:
                raise self._exc
            return self._metrics

    d = tmp_path / "out"
    d.mkdir()
    (d / "_SUCCESS").touch()

    # normal metrics pass through untouched
    got = ParquetLake._obs_get(_Obs(metrics={"n": 3}), str(d), n=0)
    assert got == {"n": 3}

    # toPyRow failure + empty dir (only _SUCCESS) => defaults
    err = Exception("An error occurred while calling toPyRow.")
    assert ParquetLake._obs_get(_Obs(exc=err), str(d), n=0, routes=[]) == {
        "n": 0, "routes": [],
    }
    # missing dir behaves like empty
    assert ParquetLake._obs_get(
        _Obs(exc=err), str(tmp_path / "nope"), n=0) == {"n": 0}

    # toPyRow failure but partition dirs exist => re-raise
    (d / "bucket=0").mkdir()
    with pytest.raises(Exception, match="toPyRow"):
        ParquetLake._obs_get(_Obs(exc=err), str(d), n=0)

    # non-toPyRow failures always re-raise, even on an empty dir
    with pytest.raises(ValueError, match="boom"):
        ParquetLake._obs_get(
            _Obs(exc=ValueError("boom")), str(tmp_path / "nope"), n=0)


def _mk_rec_helpers():
    import json

    def rec(value, off):
        return {"key": None, "value": value, "topic": "t", "partition": 0,
                "offset": off}

    def env(op, after=None, before=None, lsn=0):
        p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
        if after is not None:
            p["after"] = after
        if before is not None:
            p["before"] = before
        return json.dumps({"payload": p})

    def upsert(repo, path, lsn, content=None):
        return rec(env("c", after={
            "repo": repo, "path": path, "commit": f"c{lsn}", "lang": "py",
            "content": content or f"v{lsn}"}, lsn=lsn), lsn)

    def delete(repo, path, lsn):
        return rec(env("d", before={"repo": repo, "path": path}, lsn=lsn), lsn)

    return rec, upsert, delete


def _buckets_of(spark, keys, n_buckets):
    """key -> bucket map computed with the engine's own bucket function."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(keys, ["repo", "path"]).select(
        "repo", "path",
        F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).alias("b"),
    )
    return {(r["repo"], r["path"]): r["b"] for r in df.collect()}


def test_subset_major_equals_full_major(spark, tmp_path):
    """A MAJOR fold reads and rewrites ONLY the buckets the outstanding
    deltas touch; untouched buckets are carried forward by manifest
    reference. The visible state must equal the oracle's — including
    dead-letter-only batches and horizon-expired tombstones — and must
    not change under a full major (compact_now(full=True): the same fold
    with every base bucket counted as touched). The subset manifest must
    PROVE the carry-forward (bucket paths spanning more than one
    snapshot tree); the full fold must rewrite the whole base and expire
    the tombstone the subset folds left in an untouched bucket."""
    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    _rec, upsert, delete = _mk_rec_helpers()
    n_buckets = 8
    keys = [("org/r", f"src/f{i}.py") for i in range(40)]
    kb = _buckets_of(spark, keys, n_buckets)
    by_bucket = {}
    for k, b in kb.items():
        by_bucket.setdefault(b, []).append(k)
    assert len(by_bucket) >= 4  # 40 keys over 8 buckets: spread is certain

    # touched keys drawn from ONE bucket; the horizon-divergence tombstone
    # key from a DIFFERENT bucket that no later batch touches
    touched_bucket, untouched_bucket = sorted(by_bucket)[0], sorted(by_bucket)[1]
    tk = by_bucket[touched_bucket]  # keys in the bucket later batches touch
    assert len(tk) >= 3
    tomb_key = by_bucket[untouched_bucket][0]

    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=n_buckets, mode="mor",
        compact_every=2, major_every=2, tombstone_horizon_lsn=100,
    )
    recs = []

    def feed(bid, recs_):
        recs.extend(recs_)
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake)

    def parents(meta):
        return {p.split(os.sep + "__bucket=", 1)[0]
                for p in meta["buckets"].values()}

    def tombs():
        return {
            (r["repo"], r["path"])
            for r in lake.read(include_deleted=True, include_internal=True)
            .filter("__deleted").collect()
        }

    # b0: every key v1 (lsn 1..40); b1: tombstone for tomb_key at
    # lsn 900 (newer than horizon 100 => retained by MAJOR #1)
    feed(0, [upsert(r, p, 1 + i) for i, (r, p) in enumerate(keys)])
    feed(1, [delete(*tomb_key, 900)])
    # MAJOR #1 ran (no base before it): base exists, deltas empty
    m = lake.current_meta()
    assert m["buckets"] and m["deltas"] == []
    base1 = dict(m["buckets"])

    # horizon advances (source retention moved on): tombstones with
    # lsn < 1000 are now expirable — but only where a fold touches
    lake.tombstone_horizon_lsn = 1000

    # b2+b3 -> MINOR #1; b4+b5 -> MAJOR #2, touching ONLY touched_bucket
    feed(2, [upsert(*tk[0], 2000), delete(*tk[1], 2100)])
    feed(3, [_rec('{"payload": {broken', 10), _rec("", 11)])
    feed(4, [upsert(*tk[2], 2200)])
    feed(5, [upsert(*tk[0], 2300)])
    sub_meta = lake.current_meta()
    assert sub_meta["deltas"] == [] and sub_meta["minor_count"] == 0

    # 1) visible state = the oracle's
    state = _rows(lake)
    oracle_state = replay(sorted(recs, key=lambda r: r["offset"]))["state"]
    assert_state_equal(state, oracle_state)
    assert state[tk[0]]["content"] == "v2300"
    assert state[tk[2]]["content"] == "v2200"
    assert tk[1] not in state and tomb_key not in state

    # 2) manifest proof of carry-forward: untouched buckets still point
    # at the MAJOR-#1 tree, the touched bucket at the fold output
    assert len(parents(sub_meta)) == 2    # old tree + fold output
    assert sub_meta["buckets"][str(untouched_bucket)] == \
        base1[str(untouched_bucket)]      # byte-identical carry-forward
    assert sub_meta["buckets"][str(touched_bucket)] != \
        base1[str(touched_bucket)]        # touched bucket repointed

    # 3) expire-on-touch: the subset fold retains tomb_key's now-expirable
    # tombstone in the untouched bucket (safe: never visible, just space
    # until next touch); tk[1]'s (lsn 2100 >= 1000) is live
    assert tomb_key in tombs() and tk[1] in tombs()

    # 4) a full major with no outstanding delta rewrites every bucket
    # into one fresh tree and expires tomb_key's tombstone there; the
    # visible state is unchanged, so the change feed across it is empty
    full_meta = lake.compact_now(tier="major", full=True)
    assert full_meta["deltas"] == [] and full_meta["id"] == sub_meta["id"] + 1
    assert len(parents(full_meta)) == 1
    assert _rows(lake) == state
    assert tomb_key not in tombs() and tk[1] in tombs()
    assert lake.read_changes(sub_meta["id"], full_meta["id"]).count() == 0

    # 5) the lake keeps working after the full fold
    feed(6, [upsert("org/r", "src/f1.py", 3000, "v3000")])
    assert_state_equal(
        _rows(lake),
        replay(sorted(recs, key=lambda r: r["offset"]))["state"],
    )


def test_subset_major_all_dead_letter_backlog_skips_base(spark, tmp_path):
    """A MAJOR fold over a backlog with ZERO ok rows must not read or
    rewrite ANY base bucket: the manifest's bucket paths stay
    byte-identical (pure carry-forward) and the read is unchanged. This
    is the O(touched)=O(0) extreme of the subset major."""
    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    _rec, upsert, _delete = _mk_rec_helpers()
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=2, major_every=1)

    def feed(bid, recs_):
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake)

    feed(0, [upsert("r0", "a", 1)])
    feed(1, [upsert("r0", "b", 2)])  # MAJOR #1: base created
    base1 = dict(lake.current_meta()["buckets"])
    state1 = _rows(lake)

    bad = [_rec('{"payload": {broken', 10), _rec("", 11)]
    feed(2, bad)
    feed(3, bad)  # MAJOR #2 over an all-dead-letter backlog
    m = lake.current_meta()
    assert m["deltas"] == []
    assert m["buckets"] == base1  # base untouched, carried by reference
    assert _rows(lake) == state1

    feed(4, [upsert("r1", "c", 20)])
    assert ("r1", "c") in _rows(lake)


def test_subset_mor_read_joins_only_touched_buckets(spark, tmp_path):
    """The read-path twin of the subset major: between compactions the
    steady-state MoR read resolves ONLY the base buckets the outstanding
    deltas touch (the manifest's per-delta bucket lists) together with
    the deltas; untouched buckets stream through as a plain scan. The
    read over a base plus backlog must equal the oracle's replay of the
    same batches. The path-level proof is in inputFiles(): the resolved
    side's base scan lists ONLY touched-bucket files, the pass-through
    side only the rest, and together they cover the base exactly."""
    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    _rec, upsert, delete = _mk_rec_helpers()
    n_buckets = 8
    keys = [("org/r", f"src/f{i}.py") for i in range(40)]
    new_key = ("org/other", "brand/new.py")
    kb = _buckets_of(spark, [*keys, new_key], n_buckets)
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(kb[k], []).append(k)
    touched_bucket = sorted(by_bucket)[0]
    tk = by_bucket[touched_bucket]
    assert len(tk) >= 3

    def feed(lake, bid, recs_):
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake)

    lake = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=n_buckets,
                       mode="mor", compact_every=2, major_every=1)
    batches = [
        [upsert(r, p, 1 + i) for i, (r, p) in enumerate(keys)],
        [upsert(*keys[0], 500)],  # -> MAJOR #1: base built, deltas []
    ]
    for bid, recs_ in enumerate(batches):
        feed(lake, bid, recs_)
    assert lake.current_meta()["deltas"] == []
    lake.compact_every = 100  # keep the next deltas outstanding

    # the steady-state backlog: update/delete inside ONE bucket plus a
    # brand-new key (possibly a different bucket) across two deltas
    batches.append([upsert(*tk[0], 2000), delete(*tk[1], 2100),
                    upsert(*new_key, 2200)])
    batches.append([upsert(*tk[2], 2300)])
    for bid, recs_ in list(enumerate(batches))[2:]:
        feed(lake, bid, recs_)

    meta = lake.current_meta()
    extra_cols = list(meta["extra_columns"])
    assert len(meta["deltas"]) == 2
    touched = manifest.touched_buckets(meta)
    assert set(touched) == {touched_bucket, kb[new_key]}

    # 1) the read equals the oracle
    got = _rows(lake)
    assert got[tk[0]]["content"] == "v2000"
    assert got[tk[2]]["content"] == "v2300"
    assert got[new_key]["content"] == "v2200"
    assert tk[1] not in got

    assert_state_equal(got, replay([r for b in batches for r in b])["state"])

    # 2) path-level pruning proof: the resolved side scans only touched
    # buckets, the pass-through side only the rest, covering the base
    def bucket_dirs(files):
        return {f.split("__bucket=", 1)[1].split("/", 1)[0] for f in files}

    base_t, _ = lake._read_split(meta, extra_cols, buckets=touched)
    base_u = lake._read_base(meta, extra_cols,
                             bucket_set={int(b) for b in touched},
                             exclude=True)
    all_base = lake._read_base(meta, extra_cols)
    t_files = set(base_t.inputFiles())
    u_files = set(base_u.inputFiles())
    assert bucket_dirs(t_files) == {str(b) for b in touched}
    assert bucket_dirs(u_files).isdisjoint(bucket_dirs(t_files))
    assert t_files | u_files == set(all_base.inputFiles())
    assert t_files.isdisjoint(u_files)

    # 3) compaction after a subset read keeps everything consistent: the
    # backlog (3 raw deltas >= compact_every) majors on the next feed,
    # and the feed after that leaves ONE fresh delta — a subset read
    # over a just-majored base plus a single outstanding delta
    lake.compact_every = 2
    feed(lake, len(batches), [upsert(*tk[0], 3000)])   # -> MAJOR
    feed(lake, len(batches) + 1, [upsert(*tk[2], 3100)])
    assert len(lake.current_meta()["deltas"]) == 1
    after = _rows(lake)
    assert after[tk[0]]["content"] == "v3000"
    assert after[tk[2]]["content"] == "v3100"


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    """ParquetLake.lookup(repo, path) — the reference proxy's
    get-document analog — must return exactly what read() filtered to the
    key returns, in every lake state (base only, base + deltas, delta-only
    key, deleted key, absent key, time travel), while reading ONLY the
    key's bucket directory on the base side and ONLY the deltas whose
    manifest bucket list can contain the key."""
    from pyspark.sql import functions as F

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    _rec, upsert, delete = _mk_rec_helpers()
    n_buckets = 8
    keys = [("org/r", f"src/f{i}.py") for i in range(40)]
    kb = _buckets_of(spark, keys, n_buckets)
    by_bucket = {}
    for k in keys:
        by_bucket.setdefault(kb[k], []).append(k)
    # two keys guaranteed to live in DIFFERENT buckets
    b_main = sorted(by_bucket)[0]
    b_other = sorted(by_bucket)[1]
    k_main = by_bucket[b_main][0]
    k_other = by_bucket[b_other][0]

    lake = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=n_buckets,
                       mode="mor", compact_every=2, major_every=1)

    def feed(bid, recs_):
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake)

    feed(0, [upsert(r, p, 1 + i) for i, (r, p) in enumerate(keys)])
    feed(1, [upsert(*k_main, 500)])          # -> MAJOR: compacted base
    assert lake.current_meta()["deltas"] == []
    lake.compact_every = 100

    def looked(repo, path, **kw):
        return [r.asDict() for r in lake.lookup(repo, path, **kw).collect()]

    def via_read(repo, path, **kw):
        return [
            r.asDict()
            for r in lake.read(**kw)
            .filter((F.col("repo") == repo) & (F.col("path") == path))
            .collect()
        ]

    # 1) base-only lake: hit and miss
    assert looked(*k_main) == via_read(*k_main)
    assert looked(*k_main)[0]["content"] == "v500"
    assert looked("no/such", "key.py") == []

    # 2) outstanding deltas: update in one bucket, delete + brand-new key
    feed(2, [upsert(*k_main, 600), delete(*k_other, 610),
             upsert("org/new", "fresh.py", 620)])
    meta = lake.current_meta()
    assert meta["deltas"], "backlog must be outstanding"

    assert looked(*k_main)[0]["content"] == "v600"          # delta wins
    assert looked(*k_other) == []                           # deleted
    tomb = looked(*k_other, include_deleted=True)
    assert len(tomb) == 1 and tomb[0]["content"] is None  # retained tombstone
    assert looked("org/new", "fresh.py")[0]["content"] == "v620"  # delta-only
    for key in (k_main, k_other, ("org/new", "fresh.py")):
        assert looked(*key) == via_read(*key)

    # 3) pruning proof: the base side lists ONLY the key's bucket dir, and
    # a delta whose bucket list excludes the key's bucket is dropped from
    # the lookup's manifest slice
    extra_cols = list(meta["extra_columns"])
    b = lake.key_bucket(*k_main)
    assert b == b_main == kb[k_main]
    base_t, _ = lake._read_split(meta, extra_cols, buckets=[b])
    dirs = {
        f.split("__bucket=", 1)[1].split("/", 1)[0]
        for f in base_t.inputFiles()
    }
    assert dirs == {str(b)}

    feed(3, [upsert(*by_bucket[b_other][1], 700)])  # delta NOT touching b_main
    meta = lake.current_meta()
    sub = [
        d for d in meta["deltas"]
        if b in {int(x) for x in d["buckets"]}
    ]
    assert len(sub) < len(meta["deltas"])  # manifest-level delta pruning
    assert looked(*k_main)[0]["content"] == "v600"  # still exact

    # 4) time travel composes: snapshot before the delete still sees k_other
    past = next(
        s for s in range(meta["id"], 0, -1)
        if not any(
            True for d in lake.snapshot_meta(s).get("deltas", [])
        ) and lake.snapshot_meta(s)["buckets"]
    )
    got = [r.asDict() for r in lake.lookup(*k_other, snapshot_id=past).collect()]
    assert len(got) == 1 and got[0]["content"].startswith("v")


def test_lookup_many_prunes_to_key_buckets_both_strategies(spark, tmp_path):
    """lookup_many(keys) — the multi-get analog — must equal both the
    per-key lookup union and read() filtered to the key set, on BOTH
    matching strategies (OR-of-conjunctions predicate and broadcast
    left-semi join), while scanning only the union of the keys' bucket
    dirs on the base side."""
    from pyspark.sql import functions as F

    from pyspark_cdc.schemas import KAFKA_SHAPE
    from pyspark_cdc.stream import process_batch

    _rec, upsert, delete = _mk_rec_helpers()
    n_buckets = 8
    keys = [("org/r", f"src/f{i}.py") for i in range(40)]
    kb = _buckets_of(spark, keys, n_buckets)
    by_bucket = {}
    for k, b in kb.items():
        by_bucket.setdefault(b, []).append(k)
    bs = sorted(by_bucket)
    assert len(bs) >= 3

    lake = ParquetLake(spark, str(tmp_path / "mor"), n_buckets=n_buckets,
                       mode="mor", compact_every=2, major_every=1)

    def feed(bid, recs_):
        process_batch(
            spark.createDataFrame(recs_, schema=KAFKA_SHAPE), bid, lake)

    feed(0, [upsert(r, p, 1 + i) for i, (r, p) in enumerate(keys)])
    feed(1, [upsert(*by_bucket[bs[0]][0], 500)])  # -> compacted base
    lake.compact_every = 100
    # outstanding delta: update, delete, delta-only new key
    k_upd = by_bucket[bs[0]][0]
    k_del = by_bucket[bs[1]][0]
    feed(2, [upsert(*k_upd, 600), delete(*k_del, 610),
             upsert("org/new", "fresh.py", 620)])

    # requested: an updated key, a deleted key, a delta-only key, an
    # untouched key from a third bucket, and a miss
    k_cold = by_bucket[bs[2]][0]
    req = [k_upd, k_del, ("org/new", "fresh.py"), k_cold, ("no/such", "x.py")]

    expect = {
        (r["repo"], r["path"]): r.asDict()
        for r in lake.read().filter(
            F.struct("repo", "path").isin(
                [F.struct(F.lit(r), F.lit(p)) for r, p in req])
        ).collect()
    }
    per_key = {}
    for k in req:
        for r in lake.lookup(*k).collect():
            per_key[(r["repo"], r["path"])] = r.asDict()
    assert per_key == expect
    assert set(expect) == {k_upd, ("org/new", "fresh.py"), k_cold}

    # base-file identification must go through the manifest's bucket
    # paths: flat deltas are also partitioned by __bucket, so a bare
    # "__bucket=" path match would miscount surviving delta files as
    # base buckets
    meta = lake.current_meta()
    base_dirs = {
        b: "/" + rel + "/" for b, rel in meta["buckets"].items()
    }

    for pred_max in (64, 0):  # predicate path, then forced join path
        lake.LOOKUP_PREDICATE_MAX = pred_max
        got_df = lake.lookup_many(req)
        got = {(r["repo"], r["path"]): r.asDict() for r in got_df.collect()}
        assert got == expect, f"strategy pred_max={pred_max}"
        # base side reads ONLY the requested keys' bucket dirs
        want_dirs = {str(kb.get(k, lake.key_bucket(*k))) for k in req}
        files = got_df.inputFiles()
        seen = {
            b for b, prefix in base_dirs.items()
            if any(prefix in f for f in files)
        }
        assert seen <= want_dirs, (pred_max, seen, want_dirs)
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        if pred_max == 0:
            assert "BroadcastHashJoin" in plan

    # duplicate requests collapse; tombstone visible on request
    lake.LOOKUP_PREDICATE_MAX = 64
    assert lake.lookup_many([k_upd, k_upd]).count() == 1
    tomb = lake.lookup_many([k_del], include_deleted=True).collect()
    assert len(tomb) == 1 and tomb[0]["content"] is None
