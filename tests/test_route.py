"""Tenant-pruned reads (SURVEY.md Q11 — the reference's per-tenant index,
handler.go:34-44): the lake's bucket/route partition layout must let a
route-scoped read skip every other tenant's data — manifest-level
bucket/delta pruning plus route PartitionFilters on the scans — while
returning exactly the rows a full read filtered to that route returns."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from pyspark_cdc import generate, manifest
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch


def _mklake(spark, tmp_path, n=1200, batches=3, compact_every=10):
    log = generate.bulk_events_df(spark, n, n_keys=150, seed=7).collect()
    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=8, mode="mor",
        compact_every=compact_every,
    )
    chunk = (len(log) + batches - 1) // batches
    for i in range(batches):
        part = log[i * chunk : (i + 1) * chunk]
        process_batch(
            spark.createDataFrame(part, schema=generate.KAFKA_SHAPE), i, lake
        )
    return lake


def _rows(df):
    return sorted(
        (r["repo"], r["path"], r["content"], r["route"]) for r in df.collect()
    )


def test_route_read_equals_filtered_full_read_mor(spark, tmp_path):
    # deltas outstanding (no compaction): parsed-delta route pruning path
    lake = _mklake(spark, tmp_path, compact_every=10)
    full = lake.read()
    for route in generate.TOPICS:
        pruned = lake.read(route=route)
        assert _rows(pruned) == _rows(full.filter(F.col("route") == route))
    # both tenants together cover the full table (route is never null here)
    n_split = sum(lake.read(route=r).count() for r in generate.TOPICS)
    assert n_split == full.count()


def test_route_read_equals_filtered_full_read_compacted(spark, tmp_path):
    # compaction folded everything into the route-partitioned base
    lake = _mklake(spark, tmp_path, compact_every=2)
    meta = lake.current_meta()
    assert meta["buckets"], "expected a compacted base"
    assert meta.get("bucket_routes"), "manifest must record per-bucket routes"
    full = lake.read()
    for route in generate.TOPICS:
        pruned = lake.read(route=route)
        assert _rows(pruned) == _rows(full.filter(F.col("route") == route))


def test_route_scan_prunes_partitions(spark, tmp_path):
    """The physical scan of a tenant-scoped read carries the route
    predicate as a PARTITION filter (directory pruning), not a post-scan
    data filter."""
    lake = _mklake(spark, tmp_path, compact_every=2)
    pruned = lake.read(route=generate.TOPICS[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the route equality must appear inside a PartitionFilters clause
    assert any(
        "PartitionFilters" in ln and "route" in ln
        for ln in plan.splitlines()
    ), plan


def test_unknown_route_reads_empty_without_other_tenants(spark, tmp_path):
    lake = _mklake(spark, tmp_path, compact_every=2)
    assert lake.read(route="cdc.public.no_such_tenant").count() == 0


def test_numeric_route_stays_string(spark, tmp_path):
    """A numeric-looking tenant name ('123') must round-trip as a STRING
    through the route partition dirs (Hive partition type inference would
    otherwise read it back as int), both before and after compaction."""
    recs = [
        {
            "key": json.dumps({"repo": "r/x", "path": f"f{i}.py"}),
            "value": generate._env(
                "c", generate._after("r/x", f"f{i}.py", i + 1), lsn=i + 1
            ),
            "topic": "123",
            "partition": 0,
            "offset": i + 1,
        }
        for i in range(4)
    ]
    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=4, mode="mor", compact_every=1
    )
    process_batch(spark.createDataFrame(recs, schema=generate.KAFKA_SHAPE), 0, lake)
    out = lake.read(route="123")
    assert dict(out.dtypes)["route"] == "string"
    assert out.count() == 4
    assert {r["route"] for r in out.collect()} == {"123"}


def test_zero_padded_route_keeps_its_name_through_folds(spark, tmp_path):
    """A numeric-looking route with leading zeros ('007') must come back
    as '007' from every reader after it lands in route partition dirs — a
    major fold's base and a minor fold's flat delta. Inferring partition
    types would read route=007 back as the integer 7, and a route-keyed
    consumer (SearchIndexSync) would file the folded documents under '7'.
    The lake migrates keys between routes (route_stable_keys=False), so
    read_changes also compares each changed key's prior route: a prior
    route read as '7' would emit a spurious departure delete."""

    def batch(i, lsn0):
        recs = [
            {
                "key": json.dumps({"repo": "r/x", "path": f"f{k}.py"}),
                "value": generate._env(
                    "u", generate._after("r/x", f"f{k}.py", lsn0 + k),
                    lsn=lsn0 + k,
                ),
                "topic": "007",
                "partition": 0,
                "offset": lsn0 + k,
            }
            for k in range(i, i + 4)
        ]
        return spark.createDataFrame(recs, schema=generate.KAFKA_SHAPE)

    lake = ParquetLake(
        spark, str(tmp_path / "lake"), n_buckets=4, mode="mor",
        compact_every=None, route_stable_keys=False,
    )
    process_batch(batch(0, 100), 0, lake)
    lake.compact_now("major")  # route=007 dirs in the base
    a = lake.current_meta()["id"]
    process_batch(batch(2, 200), 1, lake)
    lake.compact_now("minor")  # route=007 dirs in a flat delta
    process_batch(batch(4, 300), 2, lake)  # and one raw parsed delta
    meta = lake.current_meta()
    assert [d["format"] for d in meta["deltas"]] == ["flat", "parsed"]

    keys = [("r/x", f"f{k}.py") for k in range(8)]
    changes = lake.read_changes(a).collect()
    assert {(r["path"], r["_change_type"]) for r in changes} == {
        ("f2.py", "update"), ("f3.py", "update"),
        *((f"f{k}.py", "insert") for k in range(4, 8)),
    }
    for name, rows in {
        "read": lake.read().collect(),
        "read_route": lake.read(route="007").collect(),
        "lookup_many": lake.lookup_many(keys).collect(),
        "read_changes": changes,
    }.items():
        assert {r["route"] for r in rows} == {"007"}, name
    assert len(lake.read(route="007").collect()) == 8


def test_manifest_level_delta_pruning(spark, tmp_path):
    """A delta holding only tenant A's rows is skipped entirely (not even
    listed) by a tenant-B read: its manifest entry records its routes."""
    only_a = [
        {
            "key": json.dumps({"repo": "aaaa/x", "path": f"f{i}.py"}),
            # len("aaaa/x") is even => TOPICS[0]
            "value": generate._env(
                "c", generate._after("aaaa/x", f"f{i}.py", i + 1), lsn=i + 1
            ),
            "topic": generate.topic_for("aaaa/x"),
            "partition": 0,
            "offset": i + 1,
        }
        for i in range(5)
    ]
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4, mode="mor")
    process_batch(spark.createDataFrame(only_a, schema=generate.KAFKA_SHAPE), 0, lake)
    meta = lake.current_meta()
    (delta,) = meta["deltas"]
    assert delta["routes"] == [generate.TOPICS[0]]
    assert lake.read(route=generate.TOPICS[1]).count() == 0
    assert lake.read(route=generate.TOPICS[0]).count() == 5


def test_route_scoped_subset_read_joins_only_own_touched_buckets(
    spark, tmp_path
):
    """The read's touched-bucket union is route-pruned, so a tenant read
    resolves (one LWW aggregate) only the base buckets the TENANT'S own
    backlog touched. The extreme: when the whole backlog belongs to the
    other tenant, a tenant-scoped read is a pure pruned base scan — no
    join and no aggregate in its plan at all — while still returning
    exactly the filtered-full-read rows."""
    lake = _mklake(spark, tmp_path, compact_every=3)  # 3 batches => major
    meta = lake.current_meta()
    assert meta["buckets"] and meta["deltas"] == []
    lake.compact_every = 100

    # tenant-A-only backlog (len("aaaa/x") even => TOPICS[0])
    only_a = [
        {
            "key": json.dumps({"repo": "aaaa/x", "path": f"f{i}.py"}),
            "value": generate._env(
                "c", generate._after("aaaa/x", f"f{i}.py", 10_000 + i),
                lsn=10_000 + i,
            ),
            "topic": generate.topic_for("aaaa/x"),
            "partition": 0,
            "offset": 10_000 + i,
        }
        for i in range(5)
    ]
    process_batch(
        spark.createDataFrame(only_a, schema=generate.KAFKA_SHAPE), 3, lake
    )
    meta = lake.current_meta()
    (delta,) = meta["deltas"]
    route_a, route_b = generate.TOPICS
    assert delta["routes"] == [route_a]

    # manifest-level: B's touched set is empty, A's is the delta's own
    touched_all = manifest.touched_buckets(meta)
    assert manifest.touched_buckets(meta, route=route_a) == touched_all
    assert touched_all  # the A backlog really touches buckets
    assert manifest.touched_buckets(meta, route=route_b) == []

    # plan-level: the B read is a pure pruned base scan, the A read
    # resolves its own touched buckets through one aggregate, join-free
    plan_b = (
        lake.read(route=route_b)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan_b and "max_by" not in plan_b
    plan_a = (
        lake.read(route=route_a)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan_a
    assert plan_a.count("partial_max_by") == 1

    # row-level: both tenants still read exactly the filtered full table
    full = lake.read()
    for route in (route_a, route_b):
        assert _rows(lake.read(route=route)) == _rows(
            full.filter(F.col("route") == route)
        )
    assert {r["content"] for r in lake.read(route=route_a).collect()} >= {
        f"content of aaaa/x/f{i}.py v{10_000 + i}" for i in range(5)
    }


def test_time_travel_route_read(spark, tmp_path):
    """snapshot_id and route compose: a tenant-scoped read of a PAST
    snapshot equals the past full read filtered to the tenant — the route
    pruning (manifest bucket/delta skip + touched-bucket union) applies
    to the snapshot's own manifest, not the current one."""
    lake = _mklake(spark, tmp_path, compact_every=2)  # compactions happened
    current = lake.current_meta()["id"]
    assert current >= 2
    past_id = current - 1
    past_full = lake.read(snapshot_id=past_id)
    for route in generate.TOPICS:
        assert _rows(lake.read(snapshot_id=past_id, route=route)) == _rows(
            past_full.filter(F.col("route") == route)
        )
    # and the composition is genuinely about the PAST state: the table
    # moved on for at least one tenant
    assert any(
        _rows(lake.read(route=r)) != _rows(lake.read(snapshot_id=past_id, route=r))
        for r in generate.TOPICS
    )
