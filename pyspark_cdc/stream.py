"""Pipeline drivers: batch replay and checkpointed Structured Streaming.

The streaming job is the Spark re-expression of the reference's consumer
loop (SURVEY.md section 3.1 stage 6): source -> parse -> delta append,
with LWW resolved at read and fold time, and the offset commit happening
AFTER the sink write (the reference's sink-then-commit contract,
sync.go:117-119, maps to Structured Streaming committing the epoch to the
checkpoint after foreachBatch returns).

The source here is a file stream over the Kafka-shaped parquet log; a real
deployment swaps ONE line for format("kafka") — every downstream column is
already Kafka's (key/value/topic/partition/offset).

Exactly-once: checkpointed source offsets give each micro-batch a stable
batch_id; ParquetLake.merge_parsed() records applied batch ids and skips
duplicates, so a crash between sink commit and checkpoint commit replays
the epoch as a no-op (SURVEY.md T1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .metrics import MetricsWriter, Stopwatch, delta_lineage
from .parse import parse_envelopes
from .sink import ParquetLake
from .sources import file_batch, file_stream


def process_batch(
    batch_df: DataFrame,
    batch_id,
    lake: ParquetLake,
    metrics: MetricsWriter | None = None,
    route_from_fields: bool = False,
) -> dict:
    """parse -> delta append for one micro-batch; lineage written per batch.

    ONE Spark job: the parsed batch — all statuses — streams straight
    into the lake's delta write (ParquetLake.merge_parsed); commit
    metadata (counts, observed open-world keys) is collected during that
    write via the Observation API, and per-(topic, partition) lineage is
    derived from the just-written delta by a small column-pruned job only
    when metrics are enabled. LWW is not a separate stage: the per-key
    max_by of the lake's read and folds picks the same winner whether or
    not the batch was pre-deduplicated (max is associative), so a
    separate LWW shuffle of the whole batch would be pure overhead.
    """
    parsed = parse_envelopes(batch_df, route_from_fields=route_from_fields)
    with Stopwatch() as sw:
        stats = lake.merge_parsed(parsed, batch_id)
    if metrics and metrics.metrics_dir:
        if stats.get("delta_dir"):
            # sync by default; a MetricsWriter(async_lineage=True)
            # overlaps this small job with the next batch's ingest
            def _lineage(dd=stats["delta_dir"], bid=batch_id, w=sw.wall_ms):
                rows = delta_lineage(lake.spark, dd, bid).collect()
                metrics.write_rows(rows, bid, wall_ms=w)

            metrics.submit(_lineage)
        else:
            # duplicate/empty epoch: zero-count continuity row so
            # downstream per-batch consumers see every batch_id
            metrics.write_empty_row(batch_id, stats["status"], wall_ms=sw.wall_ms)
    return stats


def replay_batch(
    spark: SparkSession,
    log_dir: str,
    lake: ParquetLake,
    metrics_dir: str | None = None,
    batch_id=0,
    route_from_fields: bool = False,
) -> dict:
    """One-shot batch replay of a whole event log (bench + tests)."""
    raw = file_batch(spark, log_dir)
    return process_batch(
        raw, batch_id, lake, MetricsWriter(metrics_dir),
        route_from_fields=route_from_fields,
    )


def run_stream(
    raw: DataFrame,
    lake: ParquetLake,
    checkpoint_dir: str,
    metrics_dir: str | None = None,
    available_now: bool = True,
    route_from_fields: bool = False,
):
    """Checkpointed streaming ingest over ANY Kafka-shaped source stream
    (file log or real Kafka — the columns are identical, SURVEY.md S1/S2).
    available_now=True drains and stops (replay/bench); False runs a
    continuous tail job. metrics_dir may be a ready MetricsWriter (e.g.
    an async_lineage one the caller will flush())."""
    metrics = (
        metrics_dir
        if isinstance(metrics_dir, MetricsWriter)
        else MetricsWriter(metrics_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, batch_id, lake, metrics,
                      route_from_fields=route_from_fields)

    writer = raw.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def replay_stream(
    spark: SparkSession,
    log_dir: str,
    lake: ParquetLake,
    checkpoint_dir: str,
    metrics_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    route_from_fields: bool = False,
    available_now: bool = True,
):
    """Checkpointed streaming replay of a file log; the default
    trigger(availableNow) drains the log and stops — restart with the
    same checkpoint_dir to resume. available_now=False keeps tailing:
    file streams discover newly landed log files, the continuous
    deployment shape (jobs/replay.py --continuous)."""
    raw = file_stream(spark, log_dir, max_files_per_trigger)
    return run_stream(raw, lake, checkpoint_dir, metrics_dir,
                      route_from_fields=route_from_fields,
                      available_now=available_now)
