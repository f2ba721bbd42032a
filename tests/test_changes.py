"""read_changes — incremental change extraction between snapshots (the
Delta Lake CDF / Iceberg incremental-read analog; SURVEY.md S10's
downstream feed). The reference pushes every change to the search index
as it happens (sync.go:84 AddDocuments, sync.go:108 DeleteDocument);
read_changes is the lake-resident equivalent a downstream sync consumes.

The load-bearing invariant asserted throughout: applying the emitted
changes (PK-replace upserts + deletes) to the from-snapshot state
reproduces the to-snapshot state row-for-row.
"""
from __future__ import annotations

import json

import pytest

from pyspark_cdc import manifest
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import CHANGE_TYPE_COL, ParquetLake
from pyspark_cdc.stream import process_batch


def rows_by_key(df):
    return {(r["repo"], r["path"]): r.asDict() for r in df.collect()}


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


def _row(i, v, repo="r"):
    return {"repo": repo, "path": f"p{i}", "commit": f"c{v}", "lang": "py",
            "content": f"v{v}"}


def _feed(spark, lake, bid, recs):
    process_batch(spark.createDataFrame(recs, schema=KAFKA_SHAPE), bid, lake)


def _upsert(i, v, lsn):
    return _rec(_env("u", after=_row(i, v), lsn=lsn), lsn)


def _delete(i, lsn):
    return _rec(_env("d", before={"repo": "r", "path": f"p{i}"}, lsn=lsn), lsn)


def _changes_by_key(df):
    return {
        (r["repo"], r["path"]): r.asDict() for r in df.collect()
    }


def _apply_changes(state: dict, changes: dict) -> dict:
    """PK-replace upserts + deletes over a rows_by_key dict — what a
    downstream consumer does with the feed."""
    out = dict(state)
    for k, c in changes.items():
        if c[CHANGE_TYPE_COL] == "delete":
            out.pop(k, None)
        else:
            out[k] = {
                kk: vv for kk, vv in c.items() if kk != CHANGE_TYPE_COL
            }
    return out


def _assert_applies(lake, a, b):
    """The invariant: changes(a, b) applied to state(a) == state(b)."""
    changes = _changes_by_key(lake.read_changes(a, b))
    state_a = rows_by_key(lake.read(snapshot_id=a)) if a != 0 else {}
    state_b = rows_by_key(lake.read(snapshot_id=b)) if b != 0 else {}
    applied = _apply_changes(state_a, changes)
    # additive schema evolution: a column born inside the range is absent
    # from the from-snapshot read's schema; align on the union (missing
    # == null, exactly how an old file reads under the manifest's schema)
    cols = {c for r in [*applied.values(), *state_b.values()] for c in r}
    norm = lambda s: {  # noqa: E731
        k: {c: r.get(c) for c in cols} for k, r in s.items()
    }
    assert norm(applied) == norm(state_b)
    return changes


def test_insert_update_delete_classification(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 1, 1), _upsert(2, 1, 2)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_upsert(1, 2, 3),   # update p1
                           _upsert(3, 1, 4),   # insert p3
                           _delete(2, 5)])     # delete p2
    b = lake.current_meta()["id"]

    ch = _assert_applies(lake, a, b)
    assert ch[("r", "p1")][CHANGE_TYPE_COL] == "update"
    assert ch[("r", "p1")]["content"] == "v2"
    assert ch[("r", "p3")][CHANGE_TYPE_COL] == "insert"
    assert ch[("r", "p2")][CHANGE_TYPE_COL] == "delete"
    assert ch[("r", "p2")]["content"] is None  # tombstone shape
    assert set(ch) == {("r", "p1"), ("r", "p2"), ("r", "p3")}


def test_net_effect_semantics(spark, tmp_path):
    """Intermediate states inside the range are invisible: only the net
    transition from the from-state to the to-state is emitted."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 1, 1), _upsert(2, 1, 2)])
    a = lake.current_meta()["id"]
    # p1: delete then re-insert  -> net update
    # p2: update then delete     -> net delete
    # p4: insert then delete     -> net nothing (absent at both ends)
    # p5: delete of never-seen   -> net nothing
    _feed(spark, lake, 1, [_delete(1, 3), _upsert(2, 2, 4), _upsert(4, 1, 5)])
    _feed(spark, lake, 2, [_upsert(1, 9, 6), _delete(2, 7), _delete(4, 8),
                           _delete(5, 9)])
    b = lake.current_meta()["id"]

    ch = _assert_applies(lake, a, b)
    assert ch[("r", "p1")][CHANGE_TYPE_COL] == "update"
    assert ch[("r", "p1")]["content"] == "v9"
    assert ch[("r", "p2")][CHANGE_TYPE_COL] == "delete"
    assert set(ch) == {("r", "p1"), ("r", "p2")}


def test_late_older_version_emits_nothing(spark, tmp_path):
    """A re-delivered OLDER version committed inside the range loses the
    LWW comparison against the from-state and must not surface as a
    change (the state did not change)."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 5, lsn=50)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_upsert(1, 1, lsn=10)])  # stale replay
    b = lake.current_meta()["id"]
    assert lake.read_changes(a, b).count() == 0
    _assert_applies(lake, a, b)

    # same-version duplicate: also nothing
    _feed(spark, lake, 2, [_upsert(1, 5, lsn=50)])
    c = lake.current_meta()["id"]
    assert lake.read_changes(b, c).count() == 0


def test_from_zero_is_bootstrap_inserts(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 1, 1), _upsert(2, 1, 2)])
    _feed(spark, lake, 1, [_delete(2, 3), _upsert(3, 1, 4)])
    b = lake.current_meta()["id"]
    ch = _changes_by_key(lake.read_changes(0, b))
    assert {k: c[CHANGE_TYPE_COL] for k, c in ch.items()} == {
        ("r", "p1"): "insert", ("r", "p3"): "insert",
    }
    assert _apply_changes({}, ch) == rows_by_key(lake.read(snapshot_id=b))


def test_range_crossing_folds_matches_no_fold_lake(spark, tmp_path):
    """Minor and major folds inside the range reorganize rows but add no
    changes: the per-commit manifest diff must skip fold commits, and the
    emitted set must equal a fold-free lake's over the same batches."""
    batches = [
        [_upsert(i, 1, i) for i in range(1, 7)],
        [_upsert(1, 2, 10), _delete(2, 11)],
        [_upsert(7, 1, 12)],
        [_delete(3, 13), _upsert(1, 3, 14)],
        [_upsert(8, 1, 15)],
        [_upsert(7, 2, 16)],
    ]
    folded = ParquetLake(spark, str(tmp_path / "folded"), n_buckets=4,
                         mode="mor", compact_every=2, major_every=2,
                         snapshot_retention=50)
    plain = ParquetLake(spark, str(tmp_path / "plain"), n_buckets=4,
                        mode="mor", compact_every=100)
    marks_f, marks_p = [0], [0]
    for bid, recs in enumerate(batches):
        _feed(spark, folded, bid, recs)
        _feed(spark, plain, bid, recs)
        marks_f.append(folded.current_meta()["id"])
        marks_p.append(plain.current_meta()["id"])

    # after batch 1 -> after batch 5 spans minor AND major folds
    ch_f = _changes_by_key(folded.read_changes(marks_f[2], marks_f[6]))
    ch_p = _changes_by_key(plain.read_changes(marks_p[2], marks_p[6]))
    assert ch_f == ch_p and ch_f
    _assert_applies(folded, marks_f[2], marks_f[6])
    # every sub-range also applies cleanly on the folded lake
    for i in range(len(marks_f)):
        for j in range(i, len(marks_f)):
            _assert_applies(folded, marks_f[i], marks_f[j])


def test_range_crossing_rebucket(spark, tmp_path):
    """A rebucket inside the range consumes the whole backlog and changes
    the modulus: the manifest-bucket-list fast path is invalid, and the
    classification must fall back to recomputing the changed keys'
    buckets under the FROM snapshot's modulus."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(i, 1, i) for i in range(1, 9)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_upsert(1, 2, 20), _delete(2, 21)])
    lake.rebucket(16)
    _feed(spark, lake, 2, [_upsert(9, 1, 22)])
    b = lake.current_meta()["id"]

    ch = _assert_applies(lake, a, b)
    assert {k: c[CHANGE_TYPE_COL] for k, c in ch.items()} == {
        ("r", "p1"): "update", ("r", "p2"): "delete", ("r", "p9"): "insert",
    }


def test_empty_range_and_validation(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 1, 1)])
    b = lake.current_meta()["id"]
    assert lake.read_changes(b, b).count() == 0
    assert CHANGE_TYPE_COL in lake.read_changes(b, b).columns
    with pytest.raises(ValueError, match="newer than"):
        lake.read_changes(b, 0)
    # a copy-on-write data commit (applies a batch by repointing a base
    # bucket, consumes no delta) left no delta trail: the range is
    # refused, not read short
    meta = lake.current_meta()
    lake._commit_snapshot(dict(meta, id=b + 1, parent=b,
                               buckets={"0": "data/s-cow/__bucket=0"},
                               bucket_routes={"0": ["t"]},
                               **manifest.with_batch(meta, 1)))
    with pytest.raises(ValueError, match="copy-on-write"):
        lake.read_changes(b, b + 1)


def test_expired_intermediate_snapshot_raises(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100, snapshot_retention=2)
    _feed(spark, lake, 0, [_upsert(1, 1, 1)])
    a = lake.current_meta()["id"]
    for bid in range(1, 8):
        _feed(spark, lake, bid, [_upsert(1, bid + 1, bid + 1)])
    lake.expire_snapshots(keep_last=2)
    b = lake.current_meta()["id"]
    with pytest.raises(ValueError, match="expired"):
        lake.read_changes(a, b)


def test_changes_carry_evolved_columns(spark, tmp_path):
    """Additive schema evolution: a column that appears mid-range rides
    the change feed like any payload column (null before it existed)."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100)
    _feed(spark, lake, 0, [_upsert(1, 1, 1)])
    a = lake.current_meta()["id"]
    after = dict(_row(2, 1), stars="42")  # open-world column
    _feed(spark, lake, 1, [_rec(_env("u", after=after, lsn=5), 5)])
    b = lake.current_meta()["id"]
    ch = _assert_applies(lake, a, b)
    assert ch[("r", "p2")]["stars"] == "42"
    assert ch[("r", "p2")][CHANGE_TYPE_COL] == "insert"


def test_snapshot_retention_knob_adopted(spark, tmp_path):
    """snapshot_retention widens the automatic expiry horizon so slow
    downstream consumers keep their incremental window."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=2, major_every=2,
                       snapshot_retention=50)
    marks = [0]
    for bid in range(10):
        _feed(spark, lake, bid, [_upsert(bid % 3 + 1, bid, bid + 1)])
        marks.append(lake.current_meta()["id"])
    # every historical range still readable despite folds expiring eagerly
    # at the default retention of 8
    for a in marks:
        _assert_applies(lake, a, marks[-1])


def test_route_scoped_changes(spark, tmp_path):
    """route=X scopes the feed to one tenant: only that route's changes
    surface, range deltas of other tenants are manifest-pruned away, and
    the emitted set equals the unscoped feed filtered by route."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=1, major_every=1,
                       snapshot_retention=50)

    def rec_t(value, off, topic):
        return {"key": None, "value": value, "topic": topic, "partition": 0,
                "offset": off}

    def up_t(i, v, lsn, topic):
        return rec_t(_env("u", after=_row(i, v), lsn=lsn), lsn, topic)

    # batch 0 compacts into a route-partitioned base
    _feed(spark, lake, 0, [up_t(1, 1, 1, "ta"), up_t(2, 1, 2, "tb")])
    lake.compact_every = 100
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [up_t(1, 2, 10, "ta")])   # ta-only delta
    _feed(spark, lake, 2, [up_t(2, 2, 11, "tb"),    # tb delta + insert
                           up_t(3, 1, 12, "tb")])
    b = lake.current_meta()["id"]

    full = _changes_by_key(lake.read_changes(a, b))
    ta = _changes_by_key(lake.read_changes(a, b, route="ta"))
    tb = _changes_by_key(lake.read_changes(a, b, route="tb"))
    assert ta == {k: v for k, v in full.items() if v["route"] == "ta"}
    assert tb == {k: v for k, v in full.items() if v["route"] == "tb"}
    assert set(ta) == {("r", "p1")} and set(tb) == {("r", "p2"), ("r", "p3")}

    # manifest pruning: a range holding ONLY tb deltas reads zero files
    # for ta (entries route-pruned before any scan is built)
    mid = lake.snapshot_meta(b)["parent"]
    ta_only_range = lake.read_changes(mid, b, route="ta")
    assert ta_only_range.count() == 0
    assert ta_only_range.inputFiles() == []


def test_changes_stable_under_later_commits(spark, tmp_path):
    """A read_changes(A, B) DataFrame captured before later commits must
    still evaluate to the same range afterwards: the chain walk resolves
    (A, B] eagerly against immutable snapshot manifests, so concurrent
    ingest can never shift a consumer's in-flight extraction — the
    contract the decoupled sync job depends on."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=100, snapshot_retention=50)
    _feed(spark, lake, 0, [_upsert(1, 1, 1)])
    a = lake.current_meta()["id"]
    _feed(spark, lake, 1, [_upsert(1, 2, 10), _upsert(2, 1, 11)])
    b = lake.current_meta()["id"]
    df = lake.read_changes(a, b)  # captured, not yet evaluated
    _feed(spark, lake, 2, [_upsert(1, 9, 20), _delete(2, 21)])
    got = _changes_by_key(df)
    assert {k: c[CHANGE_TYPE_COL] for k, c in got.items()} == {
        ("r", "p1"): "update", ("r", "p2"): "insert",
    }
    assert got[("r", "p1")]["content"] == "v2"  # not the later v9


@pytest.mark.parametrize("compact_every", [100, 1], ids=["deltas", "folded"])
def test_feed_suppresses_duplicates_stale_and_absent_deletes(
    spark, tmp_path, compact_every
):
    """A four-batch log read back batch by batch: a duplicate delivery,
    a stale replay, a delete of a key that never existed and a create and
    delete inside one batch emit nothing; a delete of a live key emits a
    delete and a revive after it an insert — with the backlog
    outstanding as deltas and with every batch folded into the base."""
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=compact_every,
                       major_every=1, snapshot_retention=50)

    def op(kind, i, v, lsn):
        if kind == "d":
            return _rec(_env("d", before={"repo": "r", "path": f"p{i}"},
                             lsn=lsn), lsn)
        return _rec(_env(kind, after=_row(i, v), lsn=lsn), lsn)

    batches = [
        # p1 delivered twice; p3 created and deleted inside the batch
        [op("c", 1, 1, 1), op("c", 1, 1, 1), op("c", 2, 2, 2),
         op("c", 3, 3, 3), op("d", 3, 0, 4)],
        # stale replay of p1 v1; real update of p2; delete of never-seen p4
        [op("c", 1, 1, 1), op("u", 2, 5, 5), op("d", 4, 0, 6)],
        # delete p1
        [op("d", 1, 0, 7)],
        # revive p1; an OLDER stale update of p2
        [op("c", 1, 8, 8), op("u", 2, 4, 4)],
    ]
    expected = [
        {("r", "p1"): ("insert", "v1"), ("r", "p2"): ("insert", "v2")},
        {("r", "p2"): ("update", "v5")},
        {("r", "p1"): ("delete", None)},
        {("r", "p1"): ("insert", "v8")},
    ]
    marks = [0]
    for bid, recs in enumerate(batches):
        _feed(spark, lake, bid, recs)
        marks.append(lake.current_meta()["id"])
    for (a, b), want in zip(zip(marks, marks[1:]), expected):
        ch = _assert_applies(lake, a, b)
        assert {k: (c[CHANGE_TYPE_COL], c["content"])
                for k, c in ch.items()} == want
