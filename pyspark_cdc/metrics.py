"""Per-partition lineage + throughput metrics (SURVEY.md S10 / north rule
"per-partition lineage and throughput/lag metrics").

For every micro-batch we append one row per (topic, partition) to a
parquet metrics table:

    batch_id, topic, partition, n_records, n_ok, n_upserts, n_deletes,
    n_tombstone, n_malformed, n_unknown_op, n_bad_payload, n_missing_key, n_missing_route,
    min_offset, max_offset, min_lsn, max_lsn, batch_wall_ms

The dead-letter taxonomy mirrors the reference's log-and-skip behavior
(sync.go:44-47,136-158): data errors are counted, never fail the job.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import LSN_COL


_LINEAGE_AGGS: list | None = None


def _lineage_aggs() -> list:
    """Per-(topic, partition) lineage aggregates — built once per process
    (immutable Column trees; rebuilding them is fixed py4j overhead on the
    per-batch loop)."""
    global _LINEAGE_AGGS
    if _LINEAGE_AGGS is None:
        s = F.col("status")
        _LINEAGE_AGGS = [
            F.count(F.lit(1)).alias("n_records"),
            F.sum((s == "ok").cast("long")).alias("n_ok"),
            F.sum(((s == "ok") & (F.col("effective_op") == "u")).cast("long")).alias("n_upserts"),
            F.sum(((s == "ok") & (F.col("effective_op") == "d")).cast("long")).alias("n_deletes"),
            F.sum((s == "tombstone").cast("long")).alias("n_tombstone"),
            F.sum((s == "malformed").cast("long")).alias("n_malformed"),
            F.sum((s == "unknown_op").cast("long")).alias("n_unknown_op"),
            F.sum((s == "bad_payload").cast("long")).alias("n_bad_payload"),
            F.sum((s == "missing_key").cast("long")).alias("n_missing_key"),
            F.sum((s == "missing_route").cast("long")).alias("n_missing_route"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.min(F.when(s == "ok", F.col(LSN_COL))).alias("min_lsn"),
            F.max(F.when(s == "ok", F.col(LSN_COL))).alias("max_lsn"),
        ]
    return _LINEAGE_AGGS


def delta_lineage(spark, delta_dir: str, batch_id) -> DataFrame:
    """Per-(topic, partition) lineage for a just-written PARSED delta
    (sink.merge_parsed layout: partitioned by status, columns include
    topic/partition/offset/lsn). Column-pruned tiny read — the expensive
    JSON parse is NOT re-run; the delta already materialized its output."""
    df = spark.read.parquet(delta_dir)
    return df.groupBy("topic", "partition").agg(
        *_lineage_aggs()
    ).withColumn("batch_id", F.lit(batch_id).cast("long"))


LINEAGE_FIELDS = [
    ("topic", "string"), ("partition", "int32"), ("n_records", "int64"),
    ("n_ok", "int64"), ("n_upserts", "int64"), ("n_deletes", "int64"),
    ("n_tombstone", "int64"), ("n_malformed", "int64"),
    ("n_unknown_op", "int64"), ("n_bad_payload", "int64"),
    ("n_missing_key", "int64"), ("n_missing_route", "int64"),
    ("min_offset", "int64"), ("max_offset", "int64"),
    ("min_lsn", "int64"), ("max_lsn", "int64"),
    ("batch_id", "int64"), ("batch_wall_ms", "float64"),
]


class MetricsWriter:
    """Lineage sink. async_lineage=True runs each submitted lineage task
    on ONE background thread, so the per-batch lineage job (a small Spark
    aggregation over the just-written delta — measured 1-3 s serialized
    between 2M-event micro-batches) overlaps the NEXT batch's ingest
    instead of gating it: observability must not throttle the hot loop
    (the reference logs-and-continues the same way, sync.go:44-47).
    Exactly-once is untouched — the lake commit and the checkpoint epoch
    never wait on metrics. Safe against compaction: a folded delta dir
    outlives SNAPSHOT_RETENTION snapshots, and the single worker keeps at
    most one lineage job in flight. Call flush() before READING the
    metrics dir (it re-raises the first background failure)."""

    def __init__(self, metrics_dir: str | None, async_lineage: bool = False):
        self.metrics_dir = metrics_dir
        self.async_lineage = async_lineage
        self._pool = None
        self._pending: list = []
        self._first_error: BaseException | None = None

    def submit(self, fn) -> None:
        """Run fn now (sync default) or on the lineage thread."""
        if not self.async_lineage:
            fn()
            return
        if self._pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="cdc-lineage"
            )
        # Prune completed futures, but OBSERVE their outcome first: a
        # completed-but-failed future dropped here would make the final
        # flush() return cleanly while a batch's lineage rows were lost —
        # the documented re-raise contract requires remembering the first
        # background failure across prunes.
        still_pending = []
        for f in self._pending:
            if not f.done():
                still_pending.append(f)
            elif self._first_error is None and f.exception() is not None:
                self._first_error = f.exception()
        self._pending = still_pending
        self._pending.append(self._pool.submit(fn))

    def flush(self) -> None:
        """Drain pending lineage tasks; re-raises the first failure —
        including one already pruned by a later submit()."""
        pending, self._pending = self._pending, []
        for f in pending:
            try:
                f.result()
            except BaseException as e:
                if self._first_error is None:
                    self._first_error = e
        err, self._first_error = self._first_error, None
        if err is not None:
            raise err

    def write_rows(self, rows, batch_id, wall_ms: float | None = None) -> None:
        """Driver-side append of pre-collected lineage rows (pyarrow, no
        Spark job): lineage is a handful of rows per batch, so launching a
        distributed write for it is pure fixed overhead on the hot loop."""
        if not self.metrics_dir or not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        out_dir = os.path.join(self.metrics_dir, "lineage")
        os.makedirs(out_dir, exist_ok=True)
        cols = {}
        for name, typ in LINEAGE_FIELDS:
            if name == "batch_wall_ms":
                vals = [float(wall_ms) if wall_ms is not None else None] * len(rows)
            else:
                vals = [r[name] for r in rows]
            cols[name] = pa.array(vals, type=getattr(pa, typ)())
        pq.write_table(
            pa.table(cols),
            os.path.join(out_dir, f"lineage-{batch_id}-{int(time.time() * 1000)}.parquet"),
            compression="snappy",
        )


    def write_empty_row(self, batch_id, reason: str, wall_ms: float | None = None) -> None:
        """Zero-count continuity row for duplicate/empty epochs, so
        per-batch consumers (sustained-throughput, lag monitors) see every
        batch_id; the topic slot records the skip reason."""
        if not self.metrics_dir:
            return
        row = {name: 0 for name, _ in LINEAGE_FIELDS}
        row.update(topic=f"__{reason}__", partition=None,
                   min_offset=None, max_offset=None, min_lsn=None, max_lsn=None,
                   batch_id=batch_id)
        self.write_rows([row], batch_id, wall_ms=wall_ms)


class Stopwatch:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_ms = (time.monotonic() - self.t0) * 1000.0
        return False
