"""Lake reads are planned from the manifest: building a read's DataFrame
launches no Spark job (no partition-discovery listing, no footer or
schema-inference job, no key-hash job) and a bounded number of py4j
round trips that does not grow with the raw backlog, every read
resolves through one aggregate over only the delta-touched buckets, and
the driver-side key hash that makes lookups job-free is bit-exact with
the engine's bucket_expr."""

from __future__ import annotations

import json
import random
import uuid

import pytest

from pyspark_cdc import generate, manifest
from pyspark_cdc.sink import ParquetLake, bucket_expr, key_bucket_of
from pyspark_cdc.stream import process_batch


def _jobs_while(spark, build):
    """(result of build(), ids of the Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read planning")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _backlog_lake(spark, tmp_path):
    """A 64-bucket MoR lake with a base, one minor-fold (flat) delta and
    3 raw parsed deltas. Returns (lake, ingest, a, builds): ingest(i, bid)
    lands log chunk i as batch bid, `a` is the snapshot before the raw
    deltas, and builds maps a name to a function building read(),
    read(route=X), lookup_many of 16 keys and read_changes(a, current)."""
    log = generate.bulk_events_df(spark, 1_800, n_keys=300, seed=11).collect()
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=64,
                       mode="mor", compact_every=None)
    chunks = [log[i::6] for i in range(6)]

    def ingest(i, bid=None):
        process_batch(
            spark.createDataFrame(chunks[i], schema=generate.KAFKA_SHAPE),
            i if bid is None else bid, lake,
        )

    ingest(0)
    lake.compact_now("major")
    ingest(1)
    ingest(2)
    lake.compact_now("minor")
    a = lake.current_meta()["id"]
    for i in (3, 4, 5):
        ingest(i)
    keys = sorted({(r["repo"], r["path"]) for r in lake.read().collect()})
    keys = random.Random(3).sample(keys, 16)
    route = generate.TOPICS[0]
    builds = {
        "read": lambda: lake.read(),
        "read_route": lambda: lake.read(route=route),
        "lookup_many": lambda: lake.lookup_many(keys),
        "read_changes": lambda: lake.read_changes(a, lake.current_meta()["id"]),
    }
    return lake, ingest, a, builds


def test_building_a_read_launches_no_spark_job(spark, tmp_path):
    """On _backlog_lake's lake, building read(), read(route=X),
    lookup_many of 16 keys and read_changes(a, b) — before any action —
    runs 0 Spark jobs.

    Exempt, and not built here: read_changes over a range in which a
    rebucket changed the bucket modulus recomputes the changed keys'
    buckets under the FROM snapshot's modulus with one small Spark job
    (the manifest's bucket lists were hashed with another modulus)."""
    lake, _ingest, _a, builds = _backlog_lake(spark, tmp_path)
    meta = lake.current_meta()
    assert len(meta["buckets"]) > 32  # above Spark's default listing threshold
    assert [d["format"] for d in meta["deltas"]] == [
        "flat", "parsed", "parsed", "parsed"]
    assert "branch" in meta["extra_columns"]  # an evolved column is read too

    for name, build in builds.items():
        df, jobs = _jobs_while(spark, build)
        assert jobs == [], f"building {name} ran Spark jobs {jobs}"
        assert df.count() > 0, name  # the action still answers


def _py4j_calls(spark, build) -> int:
    """Python-to-JVM commands sent while build() runs, not counting the
    gateway's memory commands (object releases, sent when Python's GC
    runs, so their number is not the build's)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        if not command.startswith("m\n"):
            n += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return n


# py4j round trips per build on _backlog_lake's lake. The engine before
# the one-scan delta read sent 1,703 (read), 1,820 (read_route), 2,767
# (lookup_many) and 2,949 (read_changes) there, +376 per extra raw delta;
# each ceiling is under 40 % of that.
PY4J_CEILING = {"read": 450, "read_route": 450, "lookup_many": 450,
                "read_changes": 1_000}


def test_building_a_read_costs_few_py4j_calls(spark, tmp_path):
    """Building each read on _backlog_lake's lake sends at most
    PY4J_CEILING py4j commands, and the same number with 6 raw deltas
    outstanding as with 3: the parsed backlog is one scan through one
    cached projection, so the cost of building a read does not grow
    with the backlog's depth."""
    lake, ingest, a, builds = _backlog_lake(spark, tmp_path)

    def counts() -> dict[str, int]:
        out = {}
        for name, build in builds.items():
            build()  # warm: the first build fills the projection caches
            out[name] = _py4j_calls(spark, build)
        return out

    at3 = counts()
    for i in (3, 4, 5):
        ingest(i, bid=i + 3)
    assert [d["format"] for d in lake.current_meta()["deltas"]] == [
        "flat", *["parsed"] * 6]
    at6 = counts()
    for name, ceiling in PY4J_CEILING.items():
        assert at3[name] <= ceiling, (name, at3[name])
    assert at6 == at3
    assert lake.read_changes(a, lake.current_meta()["id"]).count() > 0


def _scan_files(plan) -> dict[bool, set[str]]:
    """{True: files of the parquet scans under an aggregate, False: the
    rest} for a JVM physical plan."""
    out: dict[bool, set[str]] = {True: set(), False: set()}

    def walk(node, in_agg):
        in_agg = in_agg or "Aggregate" in node.nodeName()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            out[in_agg] |= set(node.relation().inputFiles())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), in_agg)

    walk(plan, False)
    return out


def test_read_is_one_aggregate_over_touched_buckets(spark, tmp_path):
    """On a 64-bucket lake with a major-folded base and raw deltas whose
    keys hash into buckets 0-15 only, read() and read(route=X) plan no
    join and exactly one max_by aggregate; the aggregate's scans list
    base files of the delta-touched buckets only, and the pass-through
    scans list the other base buckets (for the tenant read: the other
    buckets that hold the route)."""
    log = generate.bulk_events_df(spark, 1_800, n_keys=300, seed=11).collect()
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=64,
                       mode="mor", compact_every=None)

    def low_bucket(row) -> bool:
        try:
            k = json.loads(row["key"])
            return key_bucket_of((k["repo"], k["path"]), 64) < 16
        except (TypeError, ValueError, KeyError):
            return False

    chunks = [log[:900]] + [
        [r for r in log[900:][i::3] if low_bucket(r)] for i in range(3)]
    for i, chunk in enumerate(chunks):
        process_batch(
            spark.createDataFrame(chunk, schema=generate.KAFKA_SHAPE), i, lake)
        if i == 0:
            lake.compact_now("major")
    meta = lake.current_meta()
    assert len(meta["deltas"]) == 3
    base_dirs = {int(b): "/" + rel + "/" for b, rel in meta["buckets"].items()}

    def base_buckets(files) -> set:
        return {b for b, d in base_dirs.items() if any(d in f for f in files)}

    for route in (None, generate.TOPICS[0]):
        touched = set(manifest.touched_buckets(meta, route=route))
        assert touched and max(touched) < 16
        holding = {int(b) for b, rs in meta["bucket_routes"].items()
                   if route is None or route in rs}
        qe = lake.read(route=route)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "Join" not in plan, route
        assert plan.count("partial_max_by") == 1, route
        files = _scan_files(qe.sparkPlan())
        assert base_buckets(files[True]) == touched & holding, route
        assert base_buckets(files[False]) == holding - touched, route


def test_key_bucket_of_matches_bucket_expr(spark):
    """The driver-side key hash (key_buckets / lookup_many) equals
    bucket_expr evaluated by Spark for random keys: empty strings, a null
    column, non-ASCII and emoji, strings past XXH64's 32-byte stripe and
    every tail length, under several moduli."""
    rng = random.Random(20)
    alphabet = "ab/._-09 éßü漢字😀\u0000"

    def s():
        n = rng.choice([0, 1, 3, 4, 5, 7, 8, 9, 12, 31, 32, 33, 47, 64, 70,
                        rng.randrange(150)])
        return "".join(rng.choice(alphabet) for _ in range(n))

    keys = [("", ""), ("repo", ""), ("", "path"), (None, "p"), ("r", None)]
    keys += [(s(), s()) for _ in range(3_000)]
    df = spark.createDataFrame(keys, "repo string, path string")
    for n in (7, 64, 100_000):
        got = df.select("repo", "path", bucket_expr(n).alias("b")).collect()
        bad = [(r["repo"], r["path"]) for r in got
               if key_bucket_of((r["repo"], r["path"]), n) != r["b"]]
        assert not bad, (n, bad[:5])


def test_non_string_key_element_raises_type_error(spark, tmp_path):
    """Key columns are strings: a key element that is neither a str nor
    None (an int path taken from a JSON key, say) is refused with a
    TypeError naming the key, by key_bucket_of and by the lake's
    key_buckets that lookup_many hashes with — not an AttributeError from
    inside the hash."""
    with pytest.raises(TypeError, match=r"\('r', 7\)"):
        key_bucket_of(("r", 7), 8)
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=8)
    with pytest.raises(TypeError, match="got int 7"):
        lake.key_buckets([("r", "p"), ("r", 7)])
    assert key_bucket_of(("r", None), 8) == key_bucket_of(("r",), 8)
