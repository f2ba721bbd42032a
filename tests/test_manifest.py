"""The snapshot manifest's transitions and queries (pyspark_cdc.manifest)
on handcrafted manifests: no SparkSession, no files. Every commit the
lake writes is `manifest.child(parent, **changes)`; these tests pin what
each kind of commit carries forward, what it must not (the rollback
markers), the fold abort rules and the applied-batch watermark."""
from __future__ import annotations

import pytest

from pyspark_cdc import manifest


def _delta(path, buckets, routes=("t",), nbytes=10, **kw):
    return {"path": path, "format": kw.pop("format", "parsed"),
            "routes": list(routes), "buckets": list(buckets),
            "bytes": nbytes, **kw}


def _meta(**kw):
    m = manifest.empty(n_buckets=4, minhash_bands=False)
    m.update(id=7, parent=6, extra_columns=["stars"],
             buckets={"0": "data/s3-aa/__bucket=0",
                      "2": "data/s3-aa/__bucket=2"},
             bucket_routes={"0": ["t"], "2": ["t", "u"]},
             minor_count=1,
             deltas=[_delta("data/d5-bb", [0, 1]),
                     _delta("data/d6-cc", [3], routes=("u",), nbytes=5)],
             batch_wm=5, recent_batch_ids=[8])
    m.update(kw)
    return m


ROLLED_BACK = dict(rollback=True, rolled_back_to=3)
TARGET = _meta(id=3, parent=2, deltas=[], buckets={}, bucket_routes={},
               minor_count=0, batch_wm=2, recent_batch_ids=[])
FOLDED = _delta("data/m8-dd", [0, 1, 3], routes=("t", "u"), merged=True,
                format="flat")

# each commit kind as ParquetLake builds it: the changes it passes child
TRANSITIONS = {
    "empty_batch": lambda m: manifest.with_batch(m, 6),
    "ingest": lambda m: dict(
        manifest.with_batch(m, 6), extra_columns=m["extra_columns"] + ["lic"],
        deltas=m["deltas"] + [_delta("data/d8-ee", [2])]),
    "minor_fold": lambda m: dict(
        deltas=[FOLDED] + manifest.unconsumed(m, m),
        minor_count=m["minor_count"] + 1),
    "major_fold": lambda m: dict(
        buckets={"0": "data/s8-ff/__bucket=0", "2": m["buckets"]["2"]},
        bucket_routes={"0": ["t"], "2": m["bucket_routes"]["2"]},
        deltas=[], minor_count=0),
    "rebucket": lambda m: dict(
        n_buckets=8, buckets={"5": "data/s8-gg/__bucket=5"},
        bucket_routes={"5": ["t"]}, deltas=[], minor_count=0),
    "rollback": lambda m: dict(manifest.table(TARGET), **ROLLED_BACK),
}


@pytest.mark.parametrize("kind", sorted(TRANSITIONS))
def test_every_transition_derives_one_child(kind):
    """The child is the parent's successor, carries exactly the changed
    table fields and the parent's other table fields, is a manifest the
    loader accepts, and leaves the parent untouched. Only a rollback
    writes the rollback markers; every other commit after a rollback
    drops them (an empty batch and a minor fold used to copy them)."""
    parent = _meta(**ROLLED_BACK)
    before = repr(parent)
    changes = TRANSITIONS[kind](parent)
    out = manifest.child(parent, **changes)

    assert (out["id"], out["parent"]) == (8, 7)
    for k in manifest.TABLE_KEYS:
        assert out[k] == changes.get(k, parent[k]), k
    assert manifest.problem(out) is None
    if kind == "rollback":
        assert {k: out[k] for k in manifest.ROLLBACK_KEYS} == ROLLED_BACK
        assert manifest.table(out) == manifest.table(TARGET)
    else:
        assert not set(manifest.ROLLBACK_KEYS) & set(out)
    assert set(out) <= {"id", "parent", *manifest.TABLE_KEYS,
                        *manifest.ROLLBACK_KEYS}
    assert repr(parent) == before


def test_child_copies_only_table_fields():
    parent = _meta(marker="x", timings={"commit_ms": 1.0})
    out = manifest.child(parent)
    assert set(out) == {"id", "parent", *manifest.TABLE_KEYS}
    with pytest.raises(ValueError, match="not a manifest field: id, marker"):
        manifest.child(parent, id=3, marker="y")


def test_empty_is_snapshot_zero():
    e = manifest.empty(16, True)
    assert manifest.problem(e) is None
    assert (e["id"], e["parent"], e["n_buckets"], e["minhash_bands"]) == (
        0, None, 16, True)
    first = manifest.child(e, **manifest.with_batch(e, 0))
    assert (first["id"], first["parent"]) == (1, 0)
    assert (first["batch_wm"], first["recent_batch_ids"]) == (0, [])


def test_with_batch_advances_the_watermark():
    m = _meta(batch_wm=5, recent_batch_ids=[8])
    assert manifest.with_batch(m, 7) == {"batch_wm": 5,
                                         "recent_batch_ids": [7, 8]}
    m.update(manifest.with_batch(m, 7))
    assert manifest.with_batch(m, 6) == {"batch_wm": 8,
                                         "recent_batch_ids": []}
    assert manifest.batch_applied(m, 4) and manifest.batch_applied(m, 8)
    assert not manifest.batch_applied(m, 6)
    # a non-int id never advances the watermark and is tracked by value
    assert manifest.with_batch(m, "epoch-a")["recent_batch_ids"] == [
        7, 8, "epoch-a"]


def test_with_batch_window_overflow_drops_the_numerically_lowest(monkeypatch):
    """Past the window, the lowest ids by VALUE are dropped (string order
    would drop 1000 before 999), and non-int ids are kept first."""
    monkeypatch.setattr(manifest, "RECENT_BATCH_WINDOW", 3)
    m = _meta(batch_wm=0, recent_batch_ids=[999, 1000, "x"])
    got = manifest.with_batch(m, 1001)
    assert got == {"batch_wm": 0, "recent_batch_ids": [1000, 1001, "x"]}
    assert not manifest.batch_applied(dict(m, **got), 999)


def test_fold_still_applies_until_an_input_goes_stale():
    read = _meta()
    ingest = manifest.child(read, deltas=read["deltas"] + [_delta("data/d8", [2])])
    assert manifest.fold_still_applies(read, read, 4, {"0", "2"})
    # concurrent ingest appended a delta: rebase, keep it outstanding
    assert manifest.fold_still_applies(ingest, read, 4, {"0", "2"})
    assert [d["path"] for d in manifest.unconsumed(ingest, read)] == ["data/d8"]
    # a consumed delta is gone (a concurrent fold consumed it)
    gone = manifest.child(read, deltas=read["deltas"][1:])
    assert not manifest.fold_still_applies(gone, read, 4)
    # the modulus changed (rebucketed underneath)
    assert not manifest.fold_still_applies(
        manifest.child(read, n_buckets=8), read, 4)
    assert not manifest.fold_still_applies(read, read, 8)
    # a bucket the fold read was repointed; an unread one does not matter
    moved = manifest.child(read, buckets=dict(
        read["buckets"], **{"2": "data/s9-zz/__bucket=2"}))
    assert not manifest.fold_still_applies(moved, read, 4, {"0", "2"})
    assert manifest.fold_still_applies(moved, read, 4, {"0"})


@pytest.mark.parametrize("change, text", [
    (dict(batch_ids=[0, 1]), "records applied batches as a `batch_ids` list"),
    (dict(deltas=["data/d1"]),
     "has a delta entry 'data/d1' that is not a dict"),
    (dict(deltas=[{"path": "data/d1", "format": "parsed"}]),
     "has a delta entry 'data/d1' with no routes, buckets, bytes"),
    (dict(bucket_routes={"2": ["t"]}),
     "has base buckets ['0'] with no bucket_routes entry"),
])
def test_problem_names_the_refused_shape(change, text):
    assert manifest.problem(_meta()) is None
    assert manifest.problem(_meta(**change)) == text


def test_problem_names_missing_keys():
    m = _meta()
    del m["batch_wm"], m["deltas"]
    assert manifest.problem(m) == "has no deltas, batch_wm"


def test_manifest_queries():
    m = _meta(deltas=[_delta("data/d5", [0, 1]),
                      _delta("data/d6", [3], routes=("u",), nbytes=5),
                      FOLDED])
    assert manifest.raw_delta_count(m) == 2
    assert manifest.touched_buckets(m) == [0, 1, 3]
    assert manifest.touched_buckets(m, route="u") == [0, 1, 3]
    assert manifest.touched_buckets(m, route="t") == [0, 1, 3]
    assert manifest.touched_buckets(m, route="v") == []
    assert [d["path"] for d in manifest.bucket_pruned(m, {1})["deltas"]] == [
        "data/d5", "data/m8-dd"]
    pairs = [{"b": "10", "r": "t"}, {"b": "2", "r": "u"},
             {"b": "2", "r": "t"}, {"b": "3", "r": None}]
    assert manifest.bucket_maps("data/s9", pairs) == (
        {"2": "data/s9/__bucket=2", "3": "data/s9/__bucket=3",
         "10": "data/s9/__bucket=10"},
        {"2": ["t", "u"], "3": [], "10": ["t"]},
    )


def test_range_data_entries_reads_data_commits_only():
    a = _meta(deltas=[])
    ingest = manifest.child(a, **manifest.with_batch(a, 6),
                            deltas=[_delta("data/d8", [0])])
    empty = manifest.child(ingest, **manifest.with_batch(ingest, 7))
    minor = manifest.child(empty, deltas=[FOLDED])
    full_major = manifest.child(minor, deltas=[], minor_count=0, buckets={
        "0": "data/s9/__bucket=0", "2": "data/s9/__bucket=2"})
    # a full major with no outstanding delta repoints buckets but
    # applies no batch: it contributes nothing and is not refused
    refold = manifest.child(full_major, buckets={
        "0": "data/s10/__bucket=0", "2": "data/s10/__bucket=2"})
    chain = [ingest, empty, minor, full_major, refold]
    assert [d["path"] for d in manifest.range_data_entries(chain, a)] == [
        "data/d8"]
    # a copy-on-write commit applies a batch by repointing a bucket
    cow = manifest.child(refold, **manifest.with_batch(refold, 9),
                         buckets=dict(refold["buckets"], **{
                             "0": "data/s11/__bucket=0"}))
    with pytest.raises(ValueError, match="copy-on-write"):
        manifest.range_data_entries(chain + [cow], a)
