"""Commit-path safety under multi-writer races — the failure windows a
round-5 review pass found around the commit lock, the snapshot files,
and retention vs pins:

* a stale-broken lock holder resuming must not unlink the NEW holder's
  lock (ownership-checked release);
* two writers that both reach the critical section (only possible after
  a stale break) must produce a LOUD CommitConflict, never a silently
  lost commit (exclusive link of a fully written snapshot file);
* a concurrent reader must never see a snapshot file that exists but is
  not yet written;
* a lost pointer-swap race or a crash between snap write and pointer
  swap must self-heal on read (forward-scan in current_meta);
* expire_snapshots must read the pinned refs under the commit lock so a
  successful pin_snapshot can never be outrun by a concurrent expire;
* the maintenance job's abort detection must not mistake a successful
  fold for an aborted one when concurrent ingest appends deltas faster
  than the fold consumed them.
"""
from __future__ import annotations

import json
import os

import pytest

from jobs.maintain import fold_aborted
from pyspark_cdc import manifest
from pyspark_cdc.sink import CommitConflict, ParquetLake


def _lake(spark, tmp_path, **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("mode", "mor")
    kw.setdefault("compact_every", None)
    return ParquetLake(spark, str(tmp_path / "table"), **kw)


def _meta(lake, snap_id: int, marker: str = "") -> dict:
    m = manifest.empty(lake.n_buckets, lake.minhash_bands)
    m["id"] = snap_id
    m["parent"] = snap_id - 1
    if marker:
        m["marker"] = marker
    return m


def _backdate(path: str, by_sec: float) -> None:
    st = os.stat(path)
    os.utime(path, (st.st_atime - by_sec, st.st_mtime - by_sec))


# ---------------- lock ownership ----------------


def test_stale_broken_holders_release_keeps_new_holders_lock(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    lock = lake._lock_path()

    t1 = lake._lock_acquire()
    # holder 1 stalls past the stale threshold; writer 2 breaks + acquires
    _backdate(lock, 3600)
    t2 = lake._lock_acquire()
    assert os.path.exists(lock)

    # holder 1 resumes and releases: writer 2's lock must SURVIVE — the
    # old blind finally-unlink would remove it here, admitting a third
    # writer into writer 2's critical section
    lake._lock_release(t1)
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == t2

    lake._lock_release(t2)
    assert not os.path.exists(lock)


def test_lock_break_restores_a_lock_that_changed_hands(spark, tmp_path):
    """A breaker that judged token X stale must not break the lock if it
    now holds a DIFFERENT (fresh) token — the holder released and a new
    writer acquired between the breaker's stat and its break."""
    lake = _lake(spark, tmp_path)
    lock = lake._lock_path()
    t_fresh = lake._lock_acquire()

    lake._lock_break("someone-elses-stale-token")
    assert os.path.exists(lock)
    with open(lock) as f:
        assert f.read() == t_fresh
    lake._lock_release(t_fresh)

    # and breaking the token it actually judged stale does break it
    t2 = lake._lock_acquire()
    lake._lock_break(t2)
    assert not os.path.exists(lock)


# ---------------- exclusive snapshot create ----------------


def test_double_commit_of_same_id_is_a_loud_conflict(spark, tmp_path):
    """If two writers ever both pass the parent check (a stale-broken
    lock whose holder resumed), the second snapshot write must raise
    CommitConflict — not last-wins-overwrite the first."""
    lake = _lake(spark, tmp_path)
    lake._commit_snapshot(_meta(lake, 1))

    a = _meta(lake, 2, marker="writer-A")
    b = _meta(lake, 2, marker="writer-B")
    lake._commit_snapshot_unlocked(a)
    with pytest.raises(CommitConflict):
        lake._commit_snapshot_unlocked(b)
    assert lake.current_meta()["marker"] == "writer-A"

    # identical re-write (our own crash-retry) is idempotent, not a
    # conflict
    lake._commit_snapshot_unlocked(a)
    assert lake.current_meta()["id"] == 2


def test_reader_never_sees_a_partial_snapshot(spark, tmp_path):
    """current_meta's forward scan adopts snap-K as soon as it exists, so
    a commit must publish the file whole: readers polling during a run
    of commits must always parse a manifest (creating the file in place
    exposed it empty between create and write)."""
    import sys
    import threading

    lake = _lake(spark, tmp_path)
    readers = [_lake(spark, tmp_path) for _ in range(6)]
    errors: list[str] = []
    stop = threading.Event()

    def poll(reader):
        while not stop.is_set():
            try:
                reader.current_meta()
            except ValueError as e:  # json.JSONDecodeError
                errors.append(repr(e))
                stop.set()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=poll, args=(r,)) for r in readers]
    try:
        for t in threads:
            t.start()
        for i in range(1, 301):
            if stop.is_set():
                break
            lake._commit_snapshot(_meta(lake, i))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=10)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert lake.current_meta()["id"] == 300


def test_crash_between_snap_write_and_pointer_swap_self_heals(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    lake._commit_snapshot(_meta(lake, 1))

    # simulate the crash: snap-2 fully written + fsynced, pointer never
    # swapped (write the snap file exactly as the commit path does)
    m2 = _meta(lake, 2, marker="crashed-before-swap")
    with open(os.path.join(lake._meta_dir, "snap-2.json"), "w") as f:
        json.dump(m2, f)
    with open(lake._current_path()) as f:
        assert f.read().strip() == "1"

    # readers adopt the newest contiguous snapshot…
    assert lake.current_meta()["id"] == 2
    # …and the next commit builds on it rather than forking id 2
    lake._commit_snapshot(_meta(lake, 3))
    assert lake.current_meta()["id"] == 3


def test_lost_pointer_swap_race_self_heals(spark, tmp_path):
    """os.replace of the pointer is last-wins; if an older swap lands
    after a newer one, reads must still see the newest snapshot."""
    lake = _lake(spark, tmp_path)
    for i in (1, 2, 3):
        lake._commit_snapshot(_meta(lake, i))

    # regress the pointer as the lost race would
    with open(lake._current_path(), "w") as f:
        f.write("1")
    assert lake.current_meta()["id"] == 3


# ---------------- expire vs pin ----------------


def test_expire_reads_pins_under_the_commit_lock(spark, tmp_path):
    """pin_snapshot verifies-and-writes refs under the commit lock;
    expire_snapshots must read them under the SAME lock, or a pin that
    just reported success can be outrun by retention (forcing the pinned
    consumer into the full resync pins exist to prevent)."""
    lake = _lake(spark, tmp_path)
    for i in (1, 2, 3):
        lake._commit_snapshot(_meta(lake, i))

    seen = {}
    orig_refs = lake.refs

    def refs_checking_lock():
        seen["lock_held"] = os.path.exists(lake._lock_path())
        return orig_refs()

    lake.refs = refs_checking_lock
    lake.expire_snapshots(keep_last=2)
    assert seen["lock_held"] is True


def test_pin_survives_expiry_and_unpin_releases(spark, tmp_path):
    lake = _lake(spark, tmp_path)
    for i in (1, 2, 3, 4, 5):
        lake._commit_snapshot(_meta(lake, i))
    lake.pin_snapshot("consumer", 2)

    lake.expire_snapshots(keep_last=1)
    # everything >= the pin floor survives
    for i in (2, 3, 4, 5):
        assert os.path.exists(
            os.path.join(lake._meta_dir, f"snap-{i}.json")
        ), i
    assert not os.path.exists(os.path.join(lake._meta_dir, "snap-1.json"))

    lake.unpin_snapshot("consumer")
    lake.expire_snapshots(keep_last=1)
    assert not os.path.exists(os.path.join(lake._meta_dir, "snap-2.json"))
    assert os.path.exists(os.path.join(lake._meta_dir, "snap-5.json"))


# ---------------- maintenance abort detection ----------------


def test_fold_abort_detection_under_concurrent_ingest():
    before = {"deltas": [{"path": "data/d1"}, {"path": "data/d2"}]}

    # fold consumed d1+d2 into m1 while ingest appended d3..d8: backlog
    # GREW (6 > 2) yet the fold succeeded — the old backlog-delta
    # heuristic reported this as aborted
    after_success = {"deltas": [{"path": "data/m1", "merged": True}]
                     + [{"path": f"data/d{i}"} for i in range(3, 9)]}
    assert fold_aborted(before, after_success) is False

    # true abort: every pre-fold delta still outstanding (+ new ingest)
    after_abort = {"deltas": [{"path": "data/d1"}, {"path": "data/d2"},
                              {"path": "data/d3"}]}
    assert fold_aborted(before, after_abort) is True

    # a full major of a lake with no outstanding delta consumes no delta
    # but repoints the base buckets: committed, even with concurrent
    # ingest appending a delta meanwhile
    base = {"deltas": [], "buckets": {"0": "data/s1/__bucket=0"}}
    rewritten = {"deltas": [], "buckets": {"0": "data/s4/__bucket=0"}}
    assert fold_aborted(base, rewritten) is False
    assert fold_aborted(
        base, dict(rewritten, deltas=[{"path": "data/d5"}])) is False
    # ... and a lost race leaves both the bucket map and the deltas as
    # they were (ingest only appends)
    assert fold_aborted(base, dict(base, deltas=[{"path": "data/d5"}])) is True
