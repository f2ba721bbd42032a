"""The core correctness gate (SURVEY.md section 5.2 item 1): replay the
deterministic synthetic event log and assert the engine's final table
equals the pure-Python oracle of the reference semantics row-for-row,
with per-row sha256(content) equality (BASELINE.json input_hint), plus
the no-per-row-Python plan guard."""

from __future__ import annotations

import hashlib

from conftest import assert_state_equal
from pyspark.sql import functions as F

from pyspark_cdc import generate, oracle
from pyspark_cdc.parse import parse_envelopes
from pyspark_cdc.sink import ParquetLake, resolve_lww
from pyspark_cdc.stream import process_batch, replay_batch
from pyspark_cdc.udfs import extract_doc_json, sha256_udf


def test_replay_matches_oracle_with_sha256(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=2_000, n_files=4, n_keys=300, seed=42)

    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=16)
    replay_batch(spark, log_dir, lake)

    final = lake.read().withColumn("content_sha", F.sha2(F.col("content"), 256))
    engine = {(r["repo"], r["path"]): r.asDict() for r in final.collect()}

    o = oracle.replay_parquet_log(log_dir)
    assert_state_equal(
        {k: {c: v for c, v in r.items() if c != "content_sha"} for k, r in engine.items()},
        o["state"],
    )

    # per-row sha256(content) invariant, oracle hashes computed in Python
    expected_sha = oracle.content_sha256(o["state"])
    for k, row in engine.items():
        want = expected_sha[k]
        if o["state"][k].get("content") is None:
            continue
        assert row["content_sha"] == want, k

    # dead letters were counted, not fatal
    assert o["counts"]["malformed"] > 0 and o["counts"]["unknown_op"] > 0


def test_every_edge_case_key_lands_correctly(spark, tmp_path):
    """Edge-case-only log: the 16 FIXTURES.md F3 scenarios end to end."""
    log = generate.edge_case_df(spark)
    lake = ParquetLake(spark, str(tmp_path / "edge_lake"), n_buckets=8)
    process_batch(log, 0, lake)
    rows = {(r["repo"], r["path"]): r.asDict() for r in lake.read().collect()}

    exp = oracle.replay(generate.edge_case_events())["state"]
    assert_state_equal(rows, exp)

    # spot-check the trickiest semantics explicitly
    assert rows[("edge/r1", "a.py")]["content"].endswith("v3")  # LWW
    assert ("edge/r2", "b.py") not in rows  # soft delete via update
    assert rows[("edge/r3", "c.py")]["content"].endswith("v8")  # revive
    assert ("edge/r4", "d.py") not in rows  # hard delete
    assert ("edge/r5", "ghost.py") not in rows  # delete of absent key
    assert rows[("edge/r6", "f.py")]["content"].endswith("v13")  # out-of-order
    assert ("edge/r7", "g.py") not in rows  # is_delete="true"
    assert ("edge/r8", "h.py") not in rows  # is_delete="1"
    assert ("edge/r9", "i.py") in rows  # falsy variants stay
    assert rows[("edge/r11", "k.go")]["lang"] == "go"  # string-encoded payload
    assert ("123", "456") in rows  # numeric key coercion
    assert rows[("edge/r13", "m.py")]["branch"] == "release/1"  # evolution
    assert rows[("edge/r15", "o.py")]["content"].endswith("v262")  # tx tie-break
    assert rows[("edge/r16", "p.rs")]["lang"] == "rs"  # doc sub-map fallback
    assert rows[("edge/r17", "q.py")]["content"].endswith("v29")  # bad payload skipped
    assert rows[("edge/r18", "r.go")]["content"].endswith("v31")  # payload replaces flat
    assert rows[("edge/r18", "r.go")].get("flat_extra") is None
    assert rows[("edge/r19", "s.ts")]["lang"] == "ts"  # object payload
    assert rows[("edge/r20", "t.py")]["content"].endswith("v33")  # flat is_delete=0 wins
    assert ("edge/r21", "u.py") not in rows  # inner-only is_delete deletes


def test_multi_topic_fanin_routes_materialized(spark, tmp_path):
    """S3 multi-topic fan-in + P8 routing identity: a log spanning BOTH
    topics replays through one pipeline, and the lake carries each row's
    route (= its topic, the index-identity analog of sync.go:176-196)."""
    log_dir = str(tmp_path / "log")
    generate.write_log(spark, log_dir, n_events=1_000, n_files=2, n_keys=100, seed=7)
    topics = {
        r["topic"]
        for r in spark.read.parquet(log_dir).select("topic").distinct().collect()
    }
    assert topics == set(generate.TOPICS)

    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=8)
    replay_batch(spark, log_dir, lake)
    rows = lake.read().select("repo", "route").collect()
    assert {r["route"] for r in rows} == set(generate.TOPICS)
    for r in rows:
        assert r["route"] == generate.topic_for(r["repo"])


def test_no_row_at_a_time_python_in_plans(spark, tmp_path):
    """input_hint: vectorized pandas/Arrow UDFs only — the physical plan of
    the hot path must contain no BatchEvalPython (row-wise Python) node;
    ArrowEvalPython (pandas UDF) is the only Python allowed."""
    log = generate.edge_case_df(spark)
    deduped = resolve_lww(parse_envelopes(log).filter("status = 'ok'"))
    plan = deduped._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    # and the parse hot path is pure JVM: not even ArrowEvalPython
    assert "ArrowEvalPython" not in plan
    # the LWW aggregate combines map-side before its exchange, so a hot
    # key ships one candidate per task instead of all its rows
    assert "partial_max_by" in plan, plan

    udf_plan = (
        log.select(sha256_udf(F.col("value")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in udf_plan  # pandas UDFs go through Arrow
    assert "BatchEvalPython" not in udf_plan


def test_pandas_udf_parity_with_native_path(spark):
    """The vectorized extract_doc_json UDF agrees with the native from_json
    extraction and the oracle on the edge-case corpus; sha256_udf agrees
    with F.sha2."""
    log = generate.edge_case_df(spark)
    via_udf = (
        log.select(
            F.get_json_object(F.col("value"), "$.payload.after").alias("after"),
            extract_doc_json(F.get_json_object(F.col("value"), "$.payload.after")).alias("doc"),
        )
        .filter(F.col("after").isNotNull())
        .collect()
    )
    assert sum(1 for r in via_udf if r["doc"] is not None) > 10
    import json

    from pyspark_cdc import oracle

    # REAL parity, row by row: the UDF's output must equal the oracle's
    # extract_doc + _coerce_str on the same after-image (a review pass
    # found the previous shape-only assertions let four divergences ride)
    for r in via_udf:
        after = json.loads(r["after"])
        if not isinstance(after, dict):
            assert r["doc"] is None
            continue
        want = oracle.extract_doc(after)
        if want is None:
            assert r["doc"] is None, after
            continue
        got = json.loads(r["doc"])
        assert got == {k: oracle._coerce_str(v) for k, v in want.items()}, after
        assert "payload" not in got

    hashed = (
        log.filter(F.col("value").isNotNull())
        .select(
            sha256_udf(F.col("value")).alias("py"),
            F.sha2(F.col("value"), 256).alias("jvm"),
        )
        .collect()
    )
    for r in hashed:
        assert r["py"] == r["jvm"]


def test_python_sha_matches_spark_sha(spark):
    s = "file src/a.py of org1/proj v17 " + "x" * 100
    df = spark.createDataFrame([{"c": s}])
    got = df.select(F.sha2(F.col("c"), 256).alias("h")).collect()[0]["h"]
    assert got == hashlib.sha256(s.encode()).hexdigest()
