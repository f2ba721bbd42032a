"""Live three-role pipeline: ingest, decoupled maintenance, and a
pinning sync consumer running CONCURRENTLY against one lake — the full
production topology in one test. Exercises surfaces no sequential test
reaches: pin_snapshot contending for the commit lock against real fold
commits, sync_once extracting ranges while folds retire the deltas it
walked, and OCC rebases landing between a sync's snapshot capture and
its segment write. Invariant at the end: index == lake == pure-Python
oracle, per-key content equality."""
from __future__ import annotations

import json
import threading
import time

from pyspark_cdc import manifest, oracle
from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.search_sync import SearchIndexSync
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch


def _env(op, after=None, before=None, lsn=0):
    p = {"op": op, "source": {"lsn": lsn, "ts_ms": lsn}}
    if after is not None:
        p["after"] = after
    if before is not None:
        p["before"] = before
    return json.dumps({"payload": p})


def _mk_batches():
    """24 batches over a 12-key space with updates, deletes, revives."""
    recs, batches = [], []
    lsn = 0
    for b in range(24):
        batch = []
        for j in range(4):
            lsn += 1
            i = (b * 3 + j) % 12 + 1
            if (b + j) % 7 == 3:
                r = {"key": None, "topic": "t", "partition": 0, "offset": lsn,
                     "value": _env("d", before={"repo": "r", "path": f"p{i}"},
                                   lsn=lsn)}
            else:
                after = {"repo": "r", "path": f"p{i}", "commit": f"c{lsn}",
                         "lang": "py", "content": f"v{lsn}"}
                r = {"key": None, "topic": "t", "partition": 0, "offset": lsn,
                     "value": _env("u", after=after, lsn=lsn)}
            batch.append(r)
        batches.append(batch)
        recs.extend(batch)
    return batches, recs


def test_concurrent_ingest_maintenance_and_pinned_sync(spark, tmp_path):
    batches, recs = _mk_batches()
    # ingest appends only (decoupled mode); maintenance folds; sync pins
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=None, major_every=2,
                       snapshot_retention=6, orphan_grace_sec=3600.0)
    maint = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                        mode="mor", compact_every=None, major_every=2,
                        snapshot_retention=6, orphan_grace_sec=3600.0)
    sync = SearchIndexSync(spark, str(tmp_path / "index"), lake, pin=True)

    stop = threading.Event()
    errors: list[BaseException] = []

    def maintain_loop():
        try:
            while not stop.is_set():
                meta = maint.current_meta()
                if meta is not None and manifest.raw_delta_count(meta) >= 3:
                    maint.compact_now(tier="auto")
                time.sleep(0.05)
        except BaseException as e:  # surface in the main thread
            errors.append(e)

    def sync_loop():
        try:
            while not stop.is_set():
                sync.sync_once()
                time.sleep(0.05)
        except BaseException as e:
            errors.append(e)

    threads = [threading.Thread(target=maintain_loop, daemon=True),
               threading.Thread(target=sync_loop, daemon=True)]
    for t in threads:
        t.start()
    try:
        for bid, batch in enumerate(batches):
            df = spark.createDataFrame(batch, schema=KAFKA_SHAPE)
            process_batch(df, bid, lake)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=120)
    assert not errors, errors

    # final catch-up sync, then the three-way equality
    sync.sync_once()
    assert sync.last_synced() == lake.current_meta()["id"]
    idx = {(r["repo"], r["path"]): r["content"]
           for r in sync.state().collect()}
    lk = {(r["repo"], r["path"]): r["content"]
          for r in lake.read().collect()}
    exp = {k: v.get("content") for k, v in oracle.replay(recs)["state"].items()}
    assert idx == lk == exp
    # the pin rode forward with the consumer
    assert lake.refs()["sync:index"] == sync.last_synced()
