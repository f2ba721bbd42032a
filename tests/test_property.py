"""Property-based correctness (hypothesis): for ARBITRARY event sequences
and ARBITRARY micro-batch splits, the engine's final table equals the
pure-Python oracle of the reference semantics.

Two invariants no example-based test can pin down as tightly:

* replay equivalence — any interleaving of upserts / soft deletes / hard
  deletes / revives / duplicates / out-of-order lsns over a small key
  space lands on the oracle's state, per key and per column;
* batching invariance — the SAME event list split into any number of
  micro-batches (in any split positions) produces the SAME final state
  as one batch (LWW max is associative; the MoR merge must not care
  where batch boundaries fall).

Spark jobs are slow per example, so the strategy space is kept small and
examples few-but-adversarial (shrinking still works on failure).
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark_cdc import oracle
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch

KEYS = [("r0", "a"), ("r0", "b"), ("r1", "a")]

# one event = (key_idx, op_kind, lsn, tx)
_event = st.tuples(
    st.integers(0, len(KEYS) - 1),
    st.sampled_from(
        ["c", "u", "r", "hard_delete", "soft_true", "soft_1", "soft_false",
         "tombstone", "malformed", "unknown", "wrapped", "bad_payload",
         "doc_submap"]
    ),
    st.integers(1, 40),   # lsn — small range forces collisions/ties
    st.integers(0, 3),    # tx tie-break
)
_events = st.lists(_event, min_size=1, max_size=25)


def _record(ev, offset):
    key_idx, kind, lsn, tx = ev
    repo, path = KEYS[key_idx]
    if kind == "tombstone":
        return {"key": None, "value": "", "topic": "t", "partition": 0, "offset": offset}
    if kind == "malformed":
        return {"key": None, "value": '{"payload": {nope', "topic": "t",
                "partition": 0, "offset": offset}
    payload = {"op": "x" if kind == "unknown" else None,
               "source": {"lsn": lsn, "ts_ms": lsn}, "transaction": {"id": tx}}
    after = {"repo": repo, "path": path, "commit": f"c{lsn}", "lang": "py",
             "content": f"content {repo}/{path} v{lsn}.{tx}"}
    if kind in ("c", "u", "r"):
        payload["op"] = kind
        payload["after"] = after
    elif kind == "hard_delete":
        payload["op"] = "d"
        payload["before"] = {"repo": repo, "path": path}
    elif kind.startswith("soft_"):
        payload["op"] = "u"
        after["is_delete"] = {"soft_true": True, "soft_1": "1", "soft_false": "0"}[kind]
        payload["after"] = after
    elif kind == "wrapped":
        payload["op"] = "u"
        inner = {"commit": f"w{lsn}", "lang": "go",
                 "content": f"wrapped {repo}/{path} v{lsn}.{tx}"}
        payload["after"] = {"repo": repo, "path": path, "payload": json.dumps(inner)}
    elif kind == "bad_payload":
        payload["op"] = "u"
        payload["after"] = {"repo": repo, "path": path, "payload": "{broken"}
    elif kind == "doc_submap":
        payload["op"] = "u"
        payload["after"] = {
            "repo": repo,
            "path": path,
            "doc": {"commit": f"d{lsn}", "lang": "rs",
                    "content": f"doc {repo}/{path} v{lsn}.{tx}"},
        }
    elif kind == "unknown":
        payload["after"] = after
    return {"key": None, "value": json.dumps({"payload": payload}), "topic": "t",
            "partition": 0, "offset": offset}


def _engine_state(spark, tmp_dir, batches, tombstone_horizon_lsn=None,
                  full=None):
    # compact_every=2 + major_every=2 exercises BOTH compaction tiers
    # (major on the first fold, minor on the next) and the MoR read's
    # touched/untouched bucket split under arbitrary event interleavings
    # and batch splits;
    # full=True/False closes with a full or subset major over whatever
    # backlog is left, so hypothesis explores touched/untouched bucket
    # interleavings on both
    lake = ParquetLake(
        spark, tmp_dir, n_buckets=4, mode="mor", compact_every=2,
        major_every=2, tombstone_horizon_lsn=tombstone_horizon_lsn,
    )
    for i, batch in enumerate(batches):
        df = spark.createDataFrame(batch, schema=KAFKA_SHAPE)
        process_batch(df, i, lake)
    if full is not None:
        lake.compact_now(tier="major", full=full)
    return {
        (r["repo"], r["path"]): r.asDict() for r in lake.read().collect()
    }


def _assert_matches_oracle(got, recs):
    exp = oracle.replay(recs)["state"]
    assert set(got) == set(exp), (sorted(got), sorted(exp))
    for k, erow in exp.items():
        grow = got[k]
        cols = set(erow) | {c for c, v in grow.items() if v is not None}
        for c in cols:
            assert grow.get(c) == erow.get(c), (k, c, grow.get(c), erow.get(c))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events)
def test_any_event_sequence_matches_oracle(spark, tmp_path_factory, evs):
    recs = [_record(e, off) for off, e in enumerate(evs)]
    tmp = str(tmp_path_factory.mktemp("prop_lake"))
    got = _engine_state(spark, tmp, [recs])
    _assert_matches_oracle(got, recs)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events, data=st.data())
def test_tombstone_horizon_interleavings_match_oracle(
    spark, tmp_path_factory, evs, data
):
    """With tombstone_horizon_lsn set, MAJOR folds expire tombstones older
    than the horizon while MINOR folds always retain them; hypothesis
    explores arbitrary op mixes and batch splits across both tiers. The
    horizon contract requires in-order delivery up to the horizon (nothing
    older than it may be replayed later), so events are delivered sorted
    by their ordering tuple — the visible final state must still equal the
    oracle's, since tombstone expiry may never change what a reader sees."""
    recs = [_record(e, off) for off, e in enumerate(evs)]

    # in-order delivery: sort by the engine's FULL ordering tuple
    # (lsn, tx, ts, offset) — a horizon is only contractually safe if no
    # event with a LOWER tuple than an expired tombstone can arrive later
    # (same-lsn, lower-tx stragglers included)
    def ord_of(r):
        try:
            p = json.loads(r["value"])["payload"]
            src = p.get("source") or {}
            tx = (p.get("transaction") or {}).get("id") or 0
            return (src.get("lsn") or 0, int(tx), src.get("ts_ms") or 0,
                    r["offset"])
        except (ValueError, TypeError, KeyError):
            return (0, 0, 0, r["offset"])

    recs.sort(key=ord_of)
    n_splits = data.draw(st.integers(0, min(3, len(recs) - 1)), label="n_splits")
    cuts = sorted(
        data.draw(
            st.lists(st.integers(1, max(1, len(recs) - 1)),
                     min_size=n_splits, max_size=n_splits),
            label="cuts",
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(recs)]:
        if recs[prev:c]:
            batches.append(recs[prev:c])
        prev = c
    full = data.draw(st.booleans(), label="full")
    tmp = str(tmp_path_factory.mktemp("prop_lake"))
    got = _engine_state(spark, tmp, batches, tombstone_horizon_lsn=20,
                        full=full)
    _assert_matches_oracle(got, recs)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events, data=st.data())
def test_rebucket_amid_interleavings_matches_oracle(
    spark, tmp_path_factory, evs, data
):
    """A bucket-count evolution (rebucket — up OR down, including to a
    single bucket) fired between ARBITRARY micro-batches must be
    invisible to readers: the final state equals the oracle, with the
    tiered compaction (both tiers, compact_every=2/major_every=2)
    continuing on the new layout after the flip."""
    recs = [_record(e, off) for off, e in enumerate(evs)]
    n_splits = data.draw(st.integers(0, min(2, len(recs) - 1)), label="n_splits")
    cuts = sorted(
        data.draw(
            st.lists(st.integers(1, max(1, len(recs) - 1)),
                     min_size=n_splits, max_size=n_splits),
            label="cuts",
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(recs)]:
        if recs[prev:c]:
            batches.append(recs[prev:c])
        prev = c
    rebucket_at = data.draw(st.integers(0, len(batches)), label="rebucket_at")
    new_n = data.draw(st.sampled_from([1, 2, 8, 16]), label="new_n")

    tmp = str(tmp_path_factory.mktemp("prop_lake"))
    lake = ParquetLake(spark, tmp, n_buckets=4, mode="mor",
                       compact_every=2, major_every=2)
    for i, batch in enumerate(batches):
        if i == rebucket_at:
            assert lake.rebucket(new_n) is not None  # quiescent: no race
        df = spark.createDataFrame(batch, schema=KAFKA_SHAPE)
        process_batch(df, i, lake)
    if rebucket_at == len(batches):
        assert lake.rebucket(new_n) is not None
    assert lake.current_meta()["n_buckets"] == new_n
    got = {(r["repo"], r["path"]): r.asDict() for r in lake.read().collect()}
    _assert_matches_oracle(got, recs)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events, data=st.data())
def test_batch_split_invariance(spark, tmp_path_factory, evs, data):
    recs = [_record(e, off) for off, e in enumerate(evs)]
    n_splits = data.draw(st.integers(0, min(3, len(recs) - 1)), label="n_splits")
    cuts = sorted(
        data.draw(
            st.lists(st.integers(1, max(1, len(recs) - 1)),
                     min_size=n_splits, max_size=n_splits),
            label="cuts",
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(recs)]:
        if recs[prev:c]:
            batches.append(recs[prev:c])
        prev = c
    tmp = str(tmp_path_factory.mktemp("prop_lake"))
    got = _engine_state(spark, tmp, batches)
    _assert_matches_oracle(got, recs)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(evs=_events, data=st.data())
def test_incremental_sync_amid_interleavings_matches_oracle(
    spark, tmp_path_factory, evs, data
):
    """The downstream sync (bootstrap + read_changes increments) fired at
    ARBITRARY batch boundaries — with hypothesis optionally crashing ONE
    sync between its segment write and its checkpoint — must land the
    index on the oracle state, across folds of both tiers and arbitrary
    event interleavings. The crash re-run path and the fencing of the
    orphan segment are exercised by construction."""
    from pyspark_cdc.search_sync import SearchIndexSync

    recs = [_record(e, off) for off, e in enumerate(evs)]
    n_splits = data.draw(st.integers(0, min(2, len(recs) - 1)), label="n_splits")
    cuts = sorted(
        data.draw(
            st.lists(st.integers(1, max(1, len(recs) - 1)),
                     min_size=n_splits, max_size=n_splits),
            label="cuts",
        )
    )
    batches, prev = [], 0
    for c in [*cuts, len(recs)]:
        if recs[prev:c]:
            batches.append(recs[prev:c])
        prev = c
    sync_after = set(
        data.draw(
            st.lists(st.integers(0, len(batches) - 1), max_size=2,
                     unique=True),
            label="sync_after",
        )
    )
    crash_on = data.draw(
        st.sampled_from([None, *sorted(sync_after)] if sync_after else [None]),
        label="crash_on",
    )

    tmp = str(tmp_path_factory.mktemp("prop_lake"))
    lake = ParquetLake(spark, tmp, n_buckets=4, mode="mor",
                       compact_every=2, major_every=2,
                       snapshot_retention=100)
    sync = SearchIndexSync(
        spark, str(tmp_path_factory.mktemp("prop_index")), lake)

    class Boom(Exception):
        pass

    def crash():
        raise Boom()

    for i, batch in enumerate(batches):
        df = spark.createDataFrame(batch, schema=KAFKA_SHAPE)
        process_batch(df, i, lake)
        if i in sync_after:
            if i == crash_on:
                sync._pre_checkpoint_hook = crash
                try:
                    sync.sync_once()
                    raise AssertionError("hook did not fire")
                except Boom:
                    pass
                sync._pre_checkpoint_hook = None
            sync.sync_once()
    sync.sync_once()  # final catch-up

    got = {
        (r["repo"], r["path"]): r.asDict() for r in sync.state().collect()
    }
    # the index never stores engine internals; compare the payload shape
    _assert_matches_oracle(got, recs)
