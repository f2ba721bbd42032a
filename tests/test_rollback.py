"""Snapshot rollback (the Iceberg rollback_to_snapshot analog):
bad-batch recovery as an O(ms) metadata commit. History only moves
forward (the rollback is a NEW snapshot whose content equals the
target's manifest, data dirs carried by reference), the batch
bookkeeping reverts with the manifest so corrected re-ingests apply,
a racing concurrent commit makes the rollback refuse rather than
silently drop that commit, and an incremental change read whose range
crosses a rollback fails loudly (rolled-back row versions would
otherwise classify as live changes — Iceberg's append-only incremental
restriction)."""
from __future__ import annotations

import json

import pytest

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


def _up(i, v, lsn):
    after = {"repo": "r", "path": f"p{i}", "commit": f"c{v}", "lang": "py",
             "content": f"v{v}-{i}"}
    return _rec(_env("u", after=after, lsn=lsn), lsn)


def _feed(spark, lake, bid, recs):
    process_batch(spark.createDataFrame(recs, schema=KAFKA_SHAPE), bid, lake)


def _lake(spark, tmp_path, **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("mode", "mor")
    kw.setdefault("compact_every", None)
    kw.setdefault("snapshot_retention", 50)
    return ParquetLake(spark, str(tmp_path / "lake"), **kw)


def _state(lake, **kw):
    return sorted((r["repo"], r["path"], r["content"])
                  for r in lake.read(**kw).collect())


def test_rollback_restores_state_and_reingest_applies(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    _feed(spark, lake, 0, [_up(1, 1, 1), _up(2, 1, 2)])
    lake.compact_now(tier="major")
    good = lake.current_meta()["id"]
    good_state = _state(lake)

    # the bad batch: overwrites k1, inserts k9
    _feed(spark, lake, 1, [_up(1, 666, 10), _up(9, 666, 11)])
    assert _state(lake) != good_state

    rolled = lake.rollback_to(good)
    assert rolled is not None and rolled["rollback"] is True
    assert rolled["rolled_back_to"] == good
    # content restored; the bad snapshot stays time-travelable
    assert _state(lake) == good_state
    assert _state(lake, snapshot_id=good) == good_state
    bad_id = rolled["parent"]
    assert ("r", "p9", "v666-9") in _state(lake, snapshot_id=bad_id)

    # batch bookkeeping reverted: the CORRECTED batch 1 applies instead
    # of being dropped as a duplicate
    _feed(spark, lake, 1, [_up(1, 2, 10)])
    assert _state(lake) == [("r", "p1", "v2-1"), ("r", "p2", "v1-2")]

    # folds keep working on the rolled-back-then-advanced table
    lake.compact_now(tier="major")
    assert _state(lake) == [("r", "p1", "v2-1"), ("r", "p2", "v1-2")]


def test_rollback_refuses_concurrent_commit(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    _feed(spark, lake, 0, [_up(1, 1, 1)])
    good = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_up(2, 1, 2)])

    fired = {}

    def land_concurrent():
        if fired.get("x"):
            return
        fired["x"] = True
        other = ParquetLake(spark, lake.table_dir, n_buckets=4, mode="mor",
                            compact_every=None, snapshot_retention=50)
        _feed(spark, other, 2, [_up(3, 1, 3)])

    lake._pre_commit_hook = land_concurrent
    before = _state(lake)
    out = lake.rollback_to(good)
    lake._pre_commit_hook = None
    # refused: None returned, the concurrent commit's data survives
    assert out is None
    assert ("r", "p3", "v1-3") in _state(lake)
    assert set(before) <= set(_state(lake))

    # quiet retry succeeds
    out = lake.rollback_to(good)
    assert out is not None
    assert _state(lake) == [("r", "p1", "v1-1")]


def test_read_changes_range_crossing_rollback_raises(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    _feed(spark, lake, 0, [_up(1, 1, 1)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_up(2, 1, 2)])
    rolled = lake.rollback_to(a)
    rb_id = rolled["id"]
    _feed(spark, lake, 2, [_up(3, 1, 3)])
    b = lake.current_meta()["id"]

    with pytest.raises(ValueError, match="crosses a rollback"):
        lake.read_changes(a, b)

    # from the rollback commit onward is append-only again
    changes = {(r["repo"], r["path"], r["_change_type"])
               for r in lake.read_changes(rb_id, b).collect()}
    assert changes == {("r", "p3", "insert")}


def test_rollback_to_expired_snapshot_raises(spark, tmp_path):
    lake = _lake(spark, tmp_path, snapshot_retention=2)
    for i in range(5):
        _feed(spark, lake, i, [_up(i + 1, 1, i + 1)])
    lake.compact_now(tier="major")  # triggers expiry
    with pytest.raises(FileNotFoundError):
        lake.rollback_to(1)


def test_rollback_survives_expiry_of_the_bad_history(spark, tmp_path):
    """After retention expires the bad snapshots, the rolled-back table
    still reads fine: the rollback manifest references the target's data
    dirs, which stay referenced by a kept snapshot."""
    lake = _lake(spark, tmp_path, snapshot_retention=3)
    _feed(spark, lake, 0, [_up(1, 1, 1), _up(2, 1, 2)])
    lake.compact_now(tier="major")
    good = lake.current_meta()["id"]
    good_state = _state(lake)
    _feed(spark, lake, 1, [_up(1, 666, 10)])
    lake.rollback_to(good)
    # advance well past retention so the bad history expires
    for i in range(2, 7):
        _feed(spark, lake, i, [_up(2, i, 10 + i)])
        lake.compact_now(tier="major")
    assert ("r", "p1", "v1-1") in _state(lake)
    assert good_state[0] in _state(lake)


# ------------- property: rollback amid arbitrary interleavings -------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from pyspark_cdc import oracle as _oracle  # noqa: E402

_KEYS = [("r", "a"), ("r", "b"), ("q", "a")]

# event = (key_idx, is_delete, lsn, tx)
_ev = st.tuples(
    st.integers(0, len(_KEYS) - 1),
    st.booleans(),
    st.integers(1, 30),
    st.integers(0, 2),
)
_evs = st.lists(_ev, min_size=2, max_size=20)


def _mk(ev, off):
    key_idx, is_del, lsn, tx = ev
    repo, path = _KEYS[key_idx]
    p = {"op": "d" if is_del else "u",
         "source": {"lsn": lsn, "ts_ms": lsn}, "transaction": {"id": tx}}
    if is_del:
        p["before"] = {"repo": repo, "path": path}
    else:
        p["after"] = {"repo": repo, "path": path, "commit": f"c{lsn}",
                      "lang": "py", "content": f"v{lsn}.{tx}-{repo}/{path}"}
    return _rec(json.dumps({"payload": p}), off)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_evs, data=st.data())
def test_rollback_interleavings_match_oracle(
    spark, tmp_path_factory, evs, data
):
    """Roll back to an arbitrary earlier snapshot amid arbitrary batch
    splits and inline folds, then re-feed the rolled-back batches (same
    batch ids — the corrected-reingest deployment): because the rollback
    reverts the batch bookkeeping with the manifest, the re-fed batches
    APPLY rather than dropping as duplicates, and the final state must
    equal the pure-Python oracle over the full event sequence."""
    recs = [_mk(e, off) for off, e in enumerate(evs)]
    n_splits = data.draw(st.integers(1, min(3, len(recs) - 1)),
                         label="n_splits")
    cuts = sorted(data.draw(
        st.lists(st.integers(1, len(recs) - 1),
                 min_size=n_splits, max_size=n_splits),
        label="cuts",
    ))
    batches, prev = [], 0
    for c in [*cuts, len(recs)]:
        if recs[prev:c]:
            batches.append(recs[prev:c])
        prev = c

    tmp = str(tmp_path_factory.mktemp("rb_lake"))
    lake = ParquetLake(spark, tmp, n_buckets=4, mode="mor",
                       compact_every=2, major_every=2,
                       snapshot_retention=100)
    snap_after = []
    for i, batch in enumerate(batches):
        _feed(spark, lake, i, batch)
        snap_after.append(lake.current_meta()["id"])

    # roll back to the snapshot after batch i (any earlier point)
    i = data.draw(st.integers(0, len(batches) - 1), label="rollback_to_batch")
    rolled = lake.rollback_to(snap_after[i])
    if i == len(batches) - 1:
        assert rolled is not None  # no-op or commit; state unchanged
    # re-feed everything after the restore point, same batch ids
    for j in range(i + 1, len(batches)):
        _feed(spark, lake, j, batches[j])

    got = {(r["repo"], r["path"]): r["content"]
           for r in lake.read().collect()}
    want = {k: v.get("content")
            for k, v in _oracle.replay(recs)["state"].items()}
    assert got == want


def test_minor_fold_does_not_inherit_the_rollback_marker(spark, tmp_path):
    """rollback_to documents that change reads STARTING AT the rollback
    commit work normally. A MINOR fold's rebase spread, and an empty
    batch's, used to copy the parent manifest wholesale — including the
    rollback marker — so the first such commit after a rollback
    re-poisoned the chain and read_changes(rb_id, current) raised
    'crosses a rollback', forcing the needless full resync the contract
    promises to avoid."""
    lake = _lake(spark, tmp_path)
    _feed(spark, lake, 0, [_up(1, 1, 1)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_up(1, 666, 10)])  # the bad batch

    # a quiet source right after the rollback: an empty micro-batch
    rb_id = lake.rollback_to(a)["id"]
    raw = spark.createDataFrame([_up(2, 1, 15)], schema=KAFKA_SHAPE)
    process_batch(raw.limit(0), 2, lake)
    empty = lake.current_meta()
    assert empty["id"] == rb_id + 1
    assert "rollback" not in empty and "rolled_back_to" not in empty
    assert lake.read_changes(rb_id, empty["id"]).count() == 0

    # the rolled-back manifest still holds batch 0's raw delta: a MINOR
    # fold right here is the natural next maintenance action
    rb_id = lake.rollback_to(a)["id"]
    folded = lake.compact_now(tier="minor")
    assert folded["id"] == rb_id + 1
    assert "rollback" not in folded and "rolled_back_to" not in folded

    _feed(spark, lake, 3, [_up(3, 1, 20)])
    changes = {(r["repo"], r["path"], r["_change_type"])
               for r in lake.read_changes(rb_id).collect()}
    assert changes == {("r", "p3", "insert")}
