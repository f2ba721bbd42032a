"""Lake reads are planned from the manifest: building a read's DataFrame
launches no Spark job (no partition-discovery listing, no footer or
schema-inference job, no key-hash job), and the driver-side key hash that
makes lookups job-free is bit-exact with the engine's bucket_expr."""

from __future__ import annotations

import random
import uuid

import pytest

from pyspark_cdc import generate
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


def test_building_a_read_launches_no_spark_job(spark, tmp_path):
    """A 64-bucket MoR lake with a base, one minor-fold (flat) delta and
    3 raw parsed deltas: building read(), read(route=X), lookup_many of 16
    keys and read_changes(a, b) — before any action — runs 0 Spark jobs.

    Exempt, and not built here: read_changes over a range in which a
    rebucket changed the bucket modulus recomputes the changed keys'
    buckets under the FROM snapshot's modulus with one small Spark job
    (the manifest's bucket lists were hashed with another modulus)."""
    log = generate.bulk_events_df(spark, 1_800, n_keys=300, seed=11).collect()
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=64,
                       mode="mor", compact_every=None)
    chunks = [log[i::6] for i in range(6)]

    def ingest(i):
        process_batch(
            spark.createDataFrame(chunks[i], schema=generate.KAFKA_SHAPE),
            i, lake,
        )

    ingest(0)
    lake.compact_now("major")
    ingest(1)
    ingest(2)
    lake.compact_now("minor")
    a = lake.current_meta()["id"]
    for i in (3, 4, 5):
        ingest(i)
    meta = lake.current_meta()
    assert len(meta["buckets"]) > 32  # above Spark's default listing threshold
    assert [d["format"] for d in meta["deltas"]] == [
        "flat", "parsed", "parsed", "parsed"]
    assert "branch" in meta["extra_columns"]  # an evolved column is read too

    keys = sorted({(r["repo"], r["path"]) for r in lake.read().collect()})
    keys = random.Random(3).sample(keys, 16)
    route = generate.TOPICS[0]
    builds = {
        "read": lambda: lake.read(),
        "read_route": lambda: lake.read(route=route),
        "lookup_many": lambda: lake.lookup_many(keys),
        "read_changes": lambda: lake.read_changes(a, meta["id"]),
    }
    for name, build in builds.items():
        df, jobs = _jobs_while(spark, build)
        assert jobs == [], f"building {name} ran Spark jobs {jobs}"
        assert df.count() > 0, name  # the action still answers


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
