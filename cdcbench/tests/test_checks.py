"""Each output check rejects a deliberately wrong answer."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks

A, B, C = ("r", "a.py"), ("r", "b.py"), ("hot", "c.py")
STATE = {A: ("ha2", "t1"), B: ("hb1", "t2"), C: ("hc3", "t1")}


def rows(state):
    return list(state.items())


def test_lookup_accepts_right_answer_and_skips_absent_keys():
    assert checks.check_lookup([(A, STATE[A])], STATE, [A, ("r", "gone.py")]) == []


def test_lookup_rejects_dropped_key():
    assert checks.check_lookup([(A, STATE[A])], STATE, [A, C])


def test_lookup_rejects_stale_version():
    assert checks.check_lookup([(A, ("ha1", "t1")), (C, STATE[C])], STATE, [A, C])


def test_lookup_rejects_stale_version_beside_fresh_one():
    # whichever of the two rows came last, the key is answered twice
    for got in ([(A, ("ha1", "t1")), (A, STATE[A])], [(A, STATE[A]), (A, ("ha1", "t1"))]):
        assert checks.check_lookup(got + [(C, STATE[C])], STATE, [A, C])


def test_full_read_rejects_dropped_key_stale_version_and_duplicate():
    assert checks.diff(rows(STATE), STATE) == []
    assert checks.diff([(A, STATE[A]), (B, STATE[B])], STATE)
    assert checks.diff(rows({**STATE, B: ("hb0", "t2")}), STATE)
    assert checks.diff(rows(STATE) + [(B, ("hb0", "t2"))], STATE)


def test_route_read_rejects_other_tenant_dropped_key_and_stale_version():
    right = [(A, STATE[A]), (C, STATE[C])]
    assert checks.check_route(right, STATE, "t1") == []
    assert checks.check_route(right + [(B, STATE[B])], STATE, "t1")
    assert checks.check_route([(A, STATE[A])], STATE, "t1")
    assert checks.check_route([(A, STATE[A]), (C, ("hc2", "t1"))], STATE, "t1")
    assert checks.check_route(right + [(C, ("hc2", "t1"))], STATE, "t1")


def test_changes_apply_property():
    before = {A: ("ha1", "t1"), B: ("hb1", "t2"), ("r", "old.py"): ("ho", "t2")}
    feed = [(A, "update", ("ha2", "t1")), (C, "insert", ("hc3", "t1")),
            (("r", "old.py"), "delete", (None, "t2"))]
    assert checks.check_changes(before, feed, STATE) == []
    # one change dropped, one stale version shipped, one key twice
    assert checks.check_changes(before, feed[1:], STATE)
    assert checks.check_changes(before, [(A, "update", ("ha1", "t1"))] + feed[1:], STATE)
    assert checks.check_changes(before, feed + [feed[0]], STATE)
    # a missing delete leaves the removed document behind
    assert checks.check_changes(before, feed[:2], STATE)


@pytest.fixture(scope="module")
def tiny_log(tmp_path_factory):
    """The generator's edge cases plus a small pure-Python bulk log."""
    from pyspark_cdc.generate import edge_case_events
    from pyspark_cdc.pylog import bulk_events_py

    events = edge_case_events() + bulk_events_py(n_events=400, n_keys=40)
    shape = pa.schema([("key", pa.string()), ("value", pa.string()), ("topic", pa.string()),
                       ("partition", pa.int32()), ("offset", pa.int64())])
    path = str(tmp_path_factory.mktemp("log") / "log.parquet")
    pq.write_table(pa.Table.from_pylist(events, schema=shape), path)
    return path, events


def test_duckdb_oracle_matches_the_pure_python_replay(tiny_log, tmp_path):
    import hashlib

    from pyspark_cdc.oracle import replay

    path, events = tiny_log
    want = {k: (hashlib.sha256(r["content"].encode()).hexdigest()
                if r.get("content") is not None else None, r["route"])
            for k, r in replay(events)["state"].items()}
    oracle = checks.Oracle([path], str(tmp_path), threads=1)
    try:
        got = oracle.state(1 << 62)
        prefix = oracle.state(1000)  # the edge cases alone
    finally:
        oracle.close()
    assert got == want
    assert prefix == {k: (hashlib.sha256(r["content"].encode()).hexdigest()
                          if r.get("content") is not None else None, r["route"])
                      for k, r in replay(edge_case_events_only(events))["state"].items()}


def edge_case_events_only(events):
    return [e for e in events if e["offset"] < 1000]
