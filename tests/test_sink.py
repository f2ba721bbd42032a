"""ParquetLake MERGE contract: idempotent duplicate batches, cross-batch
LWW guard, tombstone protection against late older upserts, revive across
batches, delete of never-inserted key, additive schema evolution across
batches, bucket-level copy-on-write reuse by the major fold, and the one
ingest path (every batch lands as a parsed delta)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from conftest import rows_by_key

from pyspark_cdc.parse import parse_envelopes
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch


def _batch(spark, events):
    recs = [
        {"key": None, "value": v, "topic": "t", "partition": 0, "offset": i}
        for i, v in enumerate(events)
    ]
    return spark.createDataFrame(recs, schema=KAFKA_SHAPE)


def _merge(lake, events, batch_id):
    return process_batch(_batch(lake.spark, events), batch_id, lake)


def _env(repo, path, lsn, op="u", content=None, extra=None, delete=False):
    after = None
    before = None
    if op == "d":
        before = {"repo": repo, "path": path}
    else:
        after = {"repo": repo, "path": path, "content": content or f"v{lsn}"}
        if extra:
            after.update(extra)
        if delete:
            after["is_delete"] = True
    p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}, "transaction": {"id": 0}}
    if after is not None:
        p["after"] = after
    if before is not None:
        p["before"] = before
    return json.dumps({"payload": p})


def test_duplicate_batch_id_is_noop(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    assert _merge(lake, [_env("r", "p", 1, content="one")], 0)["status"] == "committed"
    # same epoch id replayed (foreachBatch retry) => skipped
    stats = _merge(lake, [_env("r", "p", 2, content="two")], 0)
    assert stats["status"] == "skipped_duplicate_batch"
    assert rows_by_key(lake.read())[("r", "p")]["content"] == "one"


def test_cross_batch_lsn_guard(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("r", "p", 10, content="new")], 0)
    # a later batch replays an OLDER change (at-least-once) => must lose
    _merge(lake, [_env("r", "p", 5, content="stale")], 1)
    assert rows_by_key(lake.read())[("r", "p")]["content"] == "new"


def test_tombstone_blocks_late_older_upsert(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("r", "p", 1), _env("r", "p", 9, op="d")], 0)
    assert rows_by_key(lake.read()) == {}
    _merge(lake, [_env("r", "p", 5, content="zombie")], 1)
    assert rows_by_key(lake.read()) == {}, "older upsert must not resurrect a deleted key"


def test_revive_across_batches(spark, tmp_table):
    # document_repository.py:42: upsert after delete re-inserts
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("r", "p", 1), _env("r", "p", 2, delete=True)], 0)
    assert rows_by_key(lake.read()) == {}
    _merge(lake, [_env("r", "p", 3, content="revived")], 1)
    assert rows_by_key(lake.read())[("r", "p")]["content"] == "revived"


def test_delete_never_inserted_is_noop(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("ghost", "p", 1, op="d")], 0)
    assert rows_by_key(lake.read()) == {}


def test_schema_evolution_across_batches(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("r", "old", 1)], 0)
    stats = _merge(
        lake, [_env("r", "new", 2, extra={"branch": "main", "stars": 7})], 1
    )
    assert set(stats["new_columns"]) == {"branch", "stars"}
    rows = rows_by_key(lake.read())
    # old row reads null in the evolved column; new row carries it
    assert rows[("r", "old")]["branch"] is None
    assert rows[("r", "new")]["branch"] == "main"
    assert rows[("r", "new")]["stars"] == "7"
    assert lake.extra_columns() == ["branch", "stars"]


def test_copy_on_write_reuses_untouched_buckets(spark, tmp_table):
    """A major fold rewrites only the base buckets its deltas touch;
    every other bucket keeps its path in the next manifest."""
    lake = ParquetLake(spark, tmp_table, n_buckets=64,
                       compact_every=1, major_every=1)
    _merge(lake, [_env(f"r{i}", f"p{i}", 1) for i in range(40)], 0)
    meta0 = lake.current_meta()
    _merge(lake, [_env("r0", "p0", 2, content="touched")], 1)
    meta1 = lake.current_meta()
    reused = sum(
        1 for b, p in meta1["buckets"].items() if meta0["buckets"].get(b) == p
    )
    changed = len(meta1["buckets"]) - reused
    assert changed <= 2, "a fold must rewrite only touched buckets"
    assert reused >= len(meta0["buckets"]) - 2
    # and the data under reused paths was not rewritten (same files)
    assert rows_by_key(lake.read())[("r0", "p0")]["content"] == "touched"


def test_empty_table_read(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    assert lake.read().count() == 0
    assert set(lake.read().columns) == {"repo", "path", "commit", "lang", "content", "route"}


def test_snapshot_files_are_immutable_history(spark, tmp_table):
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [_env("r", "p", 1)], 0)
    _merge(lake, [_env("r", "p", 2)], 1)
    metas = [f for f in os.listdir(os.path.join(tmp_table, "_meta")) if f.startswith("snap-")]
    assert len(metas) == 2
    assert lake.applied_batch_ids() == [0, 1]


def test_reserved_extras_keys_never_promoted_across_batches(spark, tmp_table):
    """A source field named like an engine-internal column ("__deleted"
    is the Debezium ExtractNewRecordState SMT convention; "__lsn" etc.)
    must NOT be promoted to a real column — promotion would make every
    later merge/read raise AMBIGUOUS_REFERENCE and brick the table
    (round-4 review). The record itself still applies normally."""
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    _merge(lake, [
        _env("r", "p", 1, content="live",
             extra={"__deleted": "true", "__lsn": "999", "tier": "gold"}),
    ], 0)
    assert lake.extra_columns() == ["tier"]  # real evolution still works
    row = rows_by_key(lake.read())[("r", "p")]
    assert row["content"] == "live" and row["tier"] == "gold"
    # the decoy "__deleted" extras value neither deletes the row nor
    # poisons later merges/reads
    _merge(lake, [_env("r", "p", 2, content="v2")], 1)
    assert rows_by_key(lake.read())[("r", "p")]["content"] == "v2"


def test_reserved_extras_keys_never_promoted_mor(spark, tmp_table):
    """Same guard at merge_parsed itself (it collects observed keys via
    an Observation), with a "__bucket" decoy: without it the commit
    SUCCEEDS and every subsequent read of the parsed delta dies
    flattening the promoted duplicate column."""
    recs = [
        {"key": None,
         "value": _env("r", "p", 1, content="live",
                       extra={"__deleted": "true", "__bucket": "7",
                              "tier": "gold"}),
         "topic": "t", "partition": 0, "offset": 0},
    ]
    raw = spark.createDataFrame(recs, schema=KAFKA_SHAPE)
    lake = ParquetLake(spark, tmp_table, n_buckets=4, mode="mor")
    stats = lake.merge_parsed(parse_envelopes(raw), 0)
    assert stats["status"] == "committed"
    assert lake.extra_columns() == ["tier"]
    row = rows_by_key(lake.read())[("r", "p")]
    assert row["content"] == "live" and row["tier"] == "gold"


def test_reopen_adopts_manifest_n_buckets(spark, tmp_table):
    """n_buckets is a create-time table property: reopening with a
    different value must adopt the manifest's (honoring the new one would
    hash keys to different buckets and leave stale duplicates in the old
    dirs — silent wrong results, round-4 review)."""
    lake = ParquetLake(spark, tmp_table, n_buckets=8)
    _merge(lake, [_env("r", "p", 1, content="v1")], 0)
    reopened = ParquetLake(spark, tmp_table, n_buckets=64)
    assert reopened.n_buckets == 8
    _merge(reopened, [_env("r", "p", 2, content="v2")], 1)
    rows = rows_by_key(reopened.read())
    assert len(rows) == 1 and rows[("r", "p")]["content"] == "v2"
    assert reopened.applied_batch_count() == len(reopened.applied_batch_ids()) == 2


def _string_entries(m):
    m["deltas"] = [d["path"] for d in m["deltas"]]


def _bucketless_entry(m):
    m["deltas"][0].pop("buckets")


def _batch_ids_list(m):
    m["batch_ids"] = list(range(m.pop("batch_wm") + 1))
    m.pop("recent_batch_ids")


def _unrouted_bucket(m):
    m["bucket_routes"].pop(sorted(m["buckets"])[0])


@pytest.fixture(scope="module")
def folded_lake(spark, tmp_path_factory):
    """A lake with a folded base and one outstanding parsed delta."""
    table = str(tmp_path_factory.mktemp("dialect") / "lake")
    lake = ParquetLake(spark, table, n_buckets=2, compact_every=None)
    _merge(lake, [_env("r", "p", 1), _env("r", "q", 1), _env("s", "p", 1)], 0)
    lake.compact_now(tier="major")
    _merge(lake, [_env("r", "p", 2)], 1)
    return table


@pytest.mark.parametrize("legacy, problem", [
    pytest.param(_string_entries, "delta entry 'data/.*' that is not a dict",
                 id="string_delta_entry"),
    pytest.param(_bucketless_entry, "delta entry 'data/.*' with no buckets",
                 id="entry_without_buckets"),
    pytest.param(_batch_ids_list, "`batch_ids` list", id="batch_ids"),
    pytest.param(_unrouted_bucket,
                 r"base buckets \['\d'\] with no bucket_routes entry",
                 id="bucket_without_routes"),
])
def test_older_manifest_shapes_are_refused(spark, tmp_path, folded_lake,
                                           legacy, problem):
    """The lake reads one manifest dialect. A manifest in a shape the
    engine no longer writes — string delta entries, an entry with no
    bucket list, the `batch_ids` list from before the batch watermark, a
    base bucket with no route list — is refused on load with a
    ValueError naming the snapshot and the rebuild remedy: opening the
    lake and read() both raise, instead of reading it some other way."""
    table = str(tmp_path / "lake")
    shutil.copytree(folded_lake, table)
    lake = ParquetLake(spark, table)
    meta = lake.current_meta()
    assert meta["deltas"] and meta["buckets"]
    legacy(meta)
    meta.update(id=meta["id"] + 1, parent=meta["id"])
    lake._commit_snapshot_unlocked(meta)

    refused = rf"snapshot {meta['id']} of the lake at .*{problem}.*export_changes"
    with pytest.raises(ValueError, match=refused):
        ParquetLake(spark, table)
    with pytest.raises(ValueError, match=refused):
        lake.read()


def test_clustered_lww_same_winners_single_exchange(spark, tmp_path):
    """resolve_lww_clustered (the fold aggregation) must
    pick exactly the winners resolve_lww picks — bucket is a function of
    the key, so the groups are identical even when a key's rows disagree
    on route — and its full fold plan (repartition -> LWW aggregate ->
    partitionBy write) must contain exactly ONE shuffle exchange: the
    groupBy's ClusteredDistribution(bucket, keys) is satisfied by the
    HashPartitioning(bucket) repartition, and the winner rows flow into
    the dynamic-partition write without being re-exchanged."""
    from pyspark.sql import functions as F

    from pyspark_cdc.sink import (BUCKET_COL, bucket_expr, resolve_lww,
                                  resolve_lww_clustered)

    rows = [
        # key (r0,p0): route migrates a->b; lsn 3 must win with route b
        ("r0", "p0", 1, 0, 1, 0, "a", "v1", False),
        ("r0", "p0", 3, 0, 3, 2, "b", "v3", False),
        ("r0", "p0", 2, 0, 2, 1, "a", "v2", False),
        # key (r1,p1): exact (lsn,tx,ts) tie broken by offset
        ("r1", "p1", 5, 1, 5, 7, "a", "tie-lo", False),
        ("r1", "p1", 5, 1, 5, 9, "a", "tie-hi", False),
        # key (r2,p2): single tombstone row survives as-is
        ("r2", "p2", 4, 0, 4, 3, "b", None, True),
    ]
    df = spark.createDataFrame(
        rows,
        "repo string, path string, __lsn long, __tx_id long, __ts_ms long,"
        " __offset long, route string, content string, __deleted boolean",
    ).withColumn(BUCKET_COL, bucket_expr(4))

    plain = {
        (r["repo"], r["path"]): (r["route"], r["content"], r["__lsn"])
        for r in resolve_lww(df.drop(BUCKET_COL)).collect()
    }
    clustered = {
        (r["repo"], r["path"]): (r["route"], r["content"], r["__lsn"])
        for r in resolve_lww_clustered(df, 4).collect()
    }
    assert clustered == plain
    assert clustered[("r0", "p0")] == ("b", "v3", 3)
    assert clustered[("r1", "p1")][1] == "tie-hi"

    out = str(tmp_path / "fold_out")
    merged = resolve_lww_clustered(df, 4)
    merged.write.partitionBy(BUCKET_COL, "route").mode("overwrite").parquet(out)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_one_ingest_path_appends_a_parsed_delta(spark, tmp_table):
    """A lake opened with the defaults ingests every batch as one
    parsed delta and writes no base until a fold runs."""
    lake = ParquetLake(spark, tmp_table, n_buckets=4)
    stats = _merge(lake, [_env("r", "p", 1), _env("r", "q", 2)], 0)
    assert stats["status"] == "committed"
    meta = lake.current_meta()
    assert [d["format"] for d in meta["deltas"]] == ["parsed"]
    assert meta["buckets"] == {}
    assert set(rows_by_key(lake.read())) == {("r", "p"), ("r", "q")}


def test_cow_mode_is_refused(spark, tmp_table):
    with pytest.raises(ValueError, match="compact_every=1, major_every=1"):
        ParquetLake(spark, tmp_table, n_buckets=4, mode="cow")
