"""J1 last-writer-wins: shuffled input order, same-lsn tx tie-break
(sink.resolve_lww over parsed rows), and the fused ingest (LWW resolved
inside the lake's read and folds) against the pure-Python oracle."""

from __future__ import annotations

import json
import random

from pyspark_cdc.parse import parse_envelopes
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import resolve_lww


def _log(spark, events):
    recs = [
        {"key": None, "value": v, "topic": "t", "partition": 0, "offset": i}
        for i, v in enumerate(events)
    ]
    return parse_envelopes(spark.createDataFrame(recs, schema=KAFKA_SHAPE))


def _lww(parsed):
    return resolve_lww(parsed.filter("status = 'ok'"))


def _env(repo, path, lsn, tx=0, content=None, op="u"):
    return json.dumps(
        {
            "payload": {
                "op": op,
                "after": {"repo": repo, "path": path, "content": content or f"v{lsn}"},
                "source": {"lsn": lsn, "ts_ms": lsn},
                "transaction": {"id": tx},
            }
        }
    )


def test_lww_shuffled_order(spark):
    rnd = random.Random(7)
    events = [_env("r", f"p{k}", lsn) for k in range(20) for lsn in range(1, 11)]
    rnd.shuffle(events)
    out = {
        (r["repo"], r["path"]): r["content"]
        for r in _lww(_log(spark, events)).collect()
    }
    assert len(out) == 20
    assert all(v == "v10" for v in out.values())


def test_lww_tx_tiebreak(spark):
    events = [
        _env("r", "p", 5, tx=1, content="first"),
        _env("r", "p", 5, tx=2, content="second"),
    ]
    rows = _lww(_log(spark, events)).collect()
    assert len(rows) == 1 and rows[0]["content"] == "second"


def test_fused_merge_equals_oracle(spark, tmp_path):
    """The fused path (LWW resolved inside the lake's read and folds, no
    pre-dedup stage) must land exactly the oracle's state on a shuffled
    log with duplicates, out-of-order versions and tx ties — with the
    backlog resolved at read time and after a fold into the base."""
    import random as _random

    from conftest import assert_state_equal

    from pyspark_cdc.oracle import replay
    from pyspark_cdc.sink import ParquetLake
    from pyspark_cdc.stream import replay_batch

    rnd = _random.Random(11)
    events = [_env("r", f"p{k}", lsn) for k in range(25) for lsn in range(1, 9)]
    events += [_env("r", "p3", 8, tx=1), _env("r", "p3", 8, tx=2)]  # tx tie
    events += events[:30]  # duplicate replay slice
    rnd.shuffle(events)
    recs = [
        {"key": None, "value": v, "topic": "t", "partition": 0, "offset": i}
        for i, v in enumerate(events)
    ]
    log_dir = str(tmp_path / "log")
    spark.createDataFrame(recs, schema=KAFKA_SHAPE).repartition(4).write.parquet(log_dir)
    want = replay(recs)["state"]

    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=8)
    replay_batch(spark, log_dir, lake)
    read = {(r["repo"], r["path"]): r.asDict() for r in lake.read().collect()}
    assert_state_equal(read, want)
    assert read[("r", "p3")]["content"] is not None

    lake.compact_now(tier="major")
    assert lake.current_meta()["deltas"] == []
    folded = {(r["repo"], r["path"]): r.asDict() for r in lake.read().collect()}
    assert folded == read


def test_stringified_numeric_lsn_matches_engine(spark):
    """Oracle/engine agreement on exotic typing: a STRING-typed numeric
    lsn ("123") parses to null->0 in the engine's LongType from_json
    field, and the oracle must order it the same way (ADVICE round 3) —
    while a string transaction.id ("571") coerces in BOTH (the engine
    parses it as text and casts)."""
    import json as _json

    from pyspark_cdc.oracle import replay
    from pyspark_cdc.parse import parse_envelopes
    from pyspark_cdc.schemas import KAFKA_SHAPE

    def env(lsn, tx, content, string_lsn=False):
        return _json.dumps({"payload": {
            "op": "u",
            "source": {"lsn": str(lsn) if string_lsn else lsn, "ts_ms": 1},
            "transaction": {"id": str(tx)},
            "after": {"repo": "r", "path": "p", "commit": "c", "lang": "py",
                      "content": content},
        }})

    recs = [
        # string lsn "999" must NOT outrank numeric lsn 5
        {"key": None, "value": env(999, 1, "string-lsn", string_lsn=True),
         "topic": "t", "partition": 0, "offset": 1},
        {"key": None, "value": env(5, 2, "numeric-lsn"),
         "topic": "t", "partition": 0, "offset": 2},
    ]
    df = spark.createDataFrame(recs, schema=KAFKA_SHAPE)
    parsed = parse_envelopes(df).filter("status = 'ok'").collect()
    by_off = {r["offset"]: r for r in parsed}
    assert by_off[1]["__lsn"] == 0  # string lsn -> null -> 0 in the engine
    assert by_off[1]["__tx_id"] == 1  # string transaction.id DOES coerce
    assert by_off[2]["__lsn"] == 5

    exp = replay(recs)["state"]
    assert exp[("r", "p")]["content"] == "numeric-lsn"


def test_exotic_ordering_tokens_match_engine(spark):
    """Oracle/engine agreement on the rest of the exotic typing matrix
    (round-4 code review): float ordering tokens null out in BOTH (the
    engine's LongType from_json nulls ANY float, even integral 1e3); a
    non-numeric transaction.id falls back to source.txId in BOTH — and,
    critically, does NOT crash the engine under Spark 4's default ANSI
    mode (try_cast, not cast); int64 overflow nulls in BOTH; Python-only
    int syntax ("5_0") does not coerce."""
    import json as _json

    from pyspark_cdc.oracle import replay
    from pyspark_cdc.parse import parse_envelopes
    from pyspark_cdc.schemas import KAFKA_SHAPE

    def env(lsn, tx_id, tx_fallback, content):
        return _json.dumps({"payload": {
            "op": "u",
            "source": {"lsn": lsn, "ts_ms": 1, "txId": tx_fallback},
            "transaction": {"id": tx_id},
            "after": {"repo": "r", "path": "p", "commit": "c", "lang": "py",
                      "content": content},
        }})

    recs = [
        # float lsn -> null -> 0; composite tx id (SQL Server shape) must
        # not ANSI-crash and falls back to txId=7
        {"key": None, "value": env(12.5, "0000002d:00000758:0003", 7, "float-lsn"),
         "topic": "t", "partition": 0, "offset": 1},
        # winner: real lsn 5; "5_0" is int()-valid in Python but NOT to
        # Spark's try_cast -> falls back to txId=2
        {"key": None, "value": env(5, "5_0", 2, "int-lsn-5"),
         "topic": "t", "partition": 0, "offset": 2},
        # int64 overflow lsn -> null -> 0; overflow tx id text -> fallback
        {"key": None,
         "value": env(99999999999999999999999, "99999999999999999999999",
                      1, "overflow-lsn"),
         "topic": "t", "partition": 0, "offset": 3},
    ]
    df = spark.createDataFrame(recs, schema=KAFKA_SHAPE)
    parsed = parse_envelopes(df).filter("status = 'ok'").collect()
    by_off = {r["offset"]: r for r in parsed}
    assert by_off[1]["__lsn"] == 0 and by_off[1]["__tx_id"] == 7
    assert by_off[2]["__lsn"] == 5 and by_off[2]["__tx_id"] == 2
    assert by_off[3]["__lsn"] == 0 and by_off[3]["__tx_id"] == 1

    exp = replay(recs)["state"]
    assert exp[("r", "p")]["content"] == "int-lsn-5"
