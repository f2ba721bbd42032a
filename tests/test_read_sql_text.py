"""The read path builds its row projection, its LWW aggregate, its feed
rows and its lookup predicate as SQL text. These tests pin that names and
values survive that text: an extras key such as `a.b` or one holding a
backtick stays one column on every read and fold, and a lookup key with
quotes, backslashes, a newline or non-ASCII text matches exactly itself."""

from __future__ import annotations

import json

from conftest import assert_state_equal, rows_by_key

from pyspark_cdc.export import export_changes_log
from pyspark_cdc.oracle import replay
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.search_sync import SearchIndexSync
from pyspark_cdc.sink import CHANGE_TYPE_COL, ParquetLake
from pyspark_cdc.stream import process_batch, replay_batch

ODD_KEYS = ("a.b", "we`ird", "x y")


def _rec(value, off):
    return {"key": None, "value": value, "topic": "t", "partition": 0,
            "offset": off}


def _upsert(repo, path, lsn, **extras):
    after = {"repo": repo, "path": path, "commit": f"c{lsn}", "lang": "py",
             "content": f"v{lsn}", **extras}
    return _rec(json.dumps({"payload": {
        "op": "u", "after": after, "source": {"lsn": lsn, "ts_ms": lsn}}}), lsn)


def _delete(repo, path, lsn):
    return _rec(json.dumps({"payload": {
        "op": "d", "before": {"repo": repo, "path": path},
        "source": {"lsn": lsn, "ts_ms": lsn}}}), lsn)


class _Feeder:
    def __init__(self, spark, lake):
        self.spark, self.lake, self.recs = spark, lake, []

    def __call__(self, bid, recs):
        self.recs.extend(recs)
        process_batch(
            self.spark.createDataFrame(recs, schema=KAFKA_SHAPE), bid, self.lake)

    def oracle(self) -> dict:
        return replay(sorted(self.recs, key=lambda r: r["offset"]))["state"]


def _apply(state: dict, changes: dict) -> dict:
    out = dict(state)
    for k, c in changes.items():
        if c[CHANGE_TYPE_COL] == "delete":
            out.pop(k, None)
        else:
            out[k] = {kk: v for kk, v in c.items() if kk != CHANGE_TYPE_COL}
    return out


def test_extras_keys_with_dots_and_backticks(spark, tmp_path):
    """Extras keys `a.b`, ``we`ird`` and `x y` become lake columns. With
    a folded base and 2 raw deltas outstanding, read, lookup_many and
    read_changes (route-stable and migrating feeds) answer as the oracle
    does, and so do the search-index sync fed by read_changes and a
    replica lake fed by the exported change log; read still does after a
    minor and after a major fold."""
    table = str(tmp_path / "lake")
    lake = ParquetLake(spark, table, n_buckets=8, compact_every=None)
    feed = _Feeder(spark, lake)

    def odd(v, keys=ODD_KEYS):
        return {k: f"{k}={v}" for k in keys}

    feed(0, [_upsert("r", f"p{i}", 10 + i, **odd(i)) for i in range(10)])
    lake.compact_now("major")
    a = lake.current_meta()["id"]
    assert set(ODD_KEYS) <= set(lake.current_meta()["extra_columns"])
    sync = SearchIndexSync(spark, str(tmp_path / "index"), lake)
    sync.sync_once()
    feed(1, [_upsert("r", f"p{i}", 100 + i, **odd(100 + i, ODD_KEYS[:1]))
             for i in range(4)]
         + [_delete("r", "p5", 120), _upsert("r", "p10", 130, **odd(130))])
    feed(2, [_upsert("r", "p6", 200, **odd(200, ODD_KEYS[1:])),
             _upsert("r", "p1", 210, **odd(210))])
    b = lake.current_meta()["id"]
    assert [d["format"] for d in lake.current_meta()["deltas"]] == [
        "parsed", "parsed"]

    want = feed.oracle()
    assert want[("r", "p1")]["a.b"] == "a.b=210"
    assert want[("r", "p6")]["we`ird"] == "we`ird=200"
    assert_state_equal(rows_by_key(lake.read()), want)

    keys = [("r", "p1"), ("r", "p5"), ("r", "p6"), ("r", "p10"), ("r", "nope")]
    assert_state_equal(
        rows_by_key(lake.lookup_many(keys)),
        {k: v for k, v in want.items() if k in keys})

    before = rows_by_key(lake.read(snapshot_id=a))
    for stable in (True, False):
        reader = ParquetLake(spark, table, route_stable_keys=stable)
        changes = rows_by_key(reader.read_changes(a, b))
        assert changes[("r", "p10")]["x y"] == "x y=130"
        assert_state_equal(_apply(before, changes), want)
    sync.sync_once()
    assert_state_equal(rows_by_key(sync.state()), want)
    replica = ParquetLake(spark, str(tmp_path / "replica"), n_buckets=4,
                          compact_every=None)
    export_changes_log(lake, 0, str(tmp_path / "log"))
    replay_batch(spark, str(tmp_path / "log"), replica, batch_id=0)
    assert_state_equal(rows_by_key(replica.read()), want)

    lake.compact_now("minor")
    assert [d["format"] for d in lake.current_meta()["deltas"]] == ["flat"]
    assert_state_equal(rows_by_key(lake.read()), want)
    lake.compact_now("major")
    assert lake.current_meta()["deltas"] == []
    assert_state_equal(rows_by_key(lake.read()), want)


# keys whose SQL-literal form needs escaping, each with a decoy that a
# wrong escape would match instead
LITERAL_KEYS = [
    ("o'brien/repo", "it's.py"),
    ("o'brien/repo", "its.py"),
    ("back\\slash", "C:\\dir\\f.py"),
    ("trail\\", "'"),
    ("tick`repo", "a`b"),
    ("multi\nline", "p\nq"),
    ("multi\\nline", "p\\nq"),
    ("日本/レポ", "ünïcødé/😀.py"),
]


def test_lookup_many_matches_keys_needing_escapes(spark, tmp_path):
    """lookup_many (the ≤64-key predicate strategy) over a folded base
    plus a raw delta returns exactly the oracle's rows for keys holding
    `'`, `\\`, a backtick, a newline and non-ASCII text, each beside a
    decoy key its mis-escaped literal would match; a key with a None
    element matches nothing."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       compact_every=None)
    feed = _Feeder(spark, lake)
    feed(0, [_upsert(r, p, 10 + i) for i, (r, p) in enumerate(LITERAL_KEYS)])
    lake.compact_now("major")
    feed(1, [_upsert(r, p, 100 + i)
             for i, (r, p) in enumerate(LITERAL_KEYS) if i % 2 == 0])
    want = feed.oracle()
    assert set(want) == set(LITERAL_KEYS)

    for i in range(0, len(LITERAL_KEYS), 2):
        asked = [LITERAL_KEYS[i]]
        assert_state_equal(
            rows_by_key(lake.lookup_many(asked)),
            {k: want[k] for k in asked})
    assert_state_equal(rows_by_key(lake.lookup_many(LITERAL_KEYS)), want)

    nulls = [("o'brien/repo", None), (None, "it's.py"), (None, None)]
    assert lake.lookup_many(nulls).collect() == []
    assert set(rows_by_key(lake.lookup_many(nulls + LITERAL_KEYS[:1]))) == {
        LITERAL_KEYS[0]}
