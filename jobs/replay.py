"""spark-submit entrypoint for the CDC replay job (north rule: "run via
spark-submit --py-files on a multi-executor cluster").

Usage:
    cd /root/repo && zip -r /tmp/pyspark_cdc.zip pyspark_cdc
    spark-submit --master local[32] --py-files /tmp/pyspark_cdc.zip \
        jobs/replay.py --log-dir /tmp/log --table-dir /tmp/lake \
        --mode stream --checkpoint /tmp/ckpt [--generate 1000000]

Prints one JSON line with throughput + final-state stats. On a real
cluster, drop --master and submit to YARN/K8s — nothing else changes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _jvm_stamp(spark) -> float:
    """One bounded rep of the JVM calibration expression (Mrows/s).

    Same expression as bench.py's jvm_probe / scripts/cpu_probe.py:
    sha2+xxhash64 over spark.range — compute-bound, zero I/O, zero
    shuffle. With --probe-stamps the job runs this once BEFORE and once
    AFTER the replay, bracketing the leg: on this shared host the
    hypervisor throttles JVM execution 20–100x in minute-scale storms
    (BENCH/BASELINE.md, 2026-08-18 incident), and a leg whose stamps are
    depressed measured the host, not the engine. Never part of any
    reported wall.

    NOT apples-to-apples with bench.py's probe numbers: this stamp runs
    5M rows over 64 partitions inside a 4–16-core local-cluster leg,
    while bench.py's probe runs 30M rows over 256 partitions on
    local[32] — so the bench-calibrated "clean" band (7.5–25.5 Mrows/s)
    does NOT apply here. Compare leg stamps only against OTHER leg
    stamps at the SAME parallelism (per-leg-config clean bands, measured
    across the committed run sets: 1N ≈ 1.3–2.0, 2N ≈ 2.5–3.8,
    4N ≈ 4.5–7.5 Mrows/s); their job is relative — flagging a leg whose
    window was depressed vs its siblings — not absolute calibration.
    """
    from pyspark.sql import functions as F

    n = 5_000_000
    df = spark.range(n, numPartitions=64)
    expr = F.sha2(
        F.concat_ws("_", F.col("id"), F.xxhash64("id"), F.xxhash64("id", F.lit(1))),
        256,
    )
    t0 = time.monotonic()
    df.select(F.max(expr).alias("m")).collect()
    return round(n / (time.monotonic() - t0) / 1e6, 2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pyspark-cdc replay job")
    ap.add_argument("--log-dir", required=True, help="Kafka-shaped parquet event log")
    ap.add_argument("--table-dir", required=True, help="lake table directory")
    ap.add_argument("--mode", choices=["batch", "stream"], default="stream")
    ap.add_argument("--source", choices=["file", "kafka"], default="file",
                    help="stream source: the parquet file log (sandbox "
                         "default) or a real Kafka cluster (requires the "
                         "spark-sql-kafka package; identical downstream "
                         "columns, nothing else changes)")
    ap.add_argument("--brokers", help="kafka: bootstrap servers")
    ap.add_argument("--topics", help="kafka: comma-separated topic list")
    ap.add_argument("--max-offsets-per-trigger", type=int,
                    help="kafka: per-batch event cap (backpressure)")
    ap.add_argument("--continuous", action="store_true",
                    help="stream mode: keep tailing instead of "
                         "drain-and-stop (availableNow)")
    ap.add_argument("--checkpoint", help="checkpoint dir (stream mode)")
    ap.add_argument("--metrics-dir", help="lineage metrics dir")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--compact-every", type=int, default=10,
                    help="fold the delta backlog every N batches; "
                         "0 disables inline folds (decoupled deployment — "
                         "run jobs/maintain.py as a separate process)")
    ap.add_argument("--max-files-per-trigger", type=int)
    ap.add_argument("--generate", type=int, metavar="N_EVENTS",
                    help="synthesize a deterministic event log first")
    ap.add_argument("--route-from-fields", action="store_true",
                    help="derive the route from document fields "
                         "({app_name}_{collection}, the reference's "
                         "ResolveIndex, sync.go:176-196) instead of "
                         "topic-as-route; records missing either field "
                         "dead-letter as missing_route")
    ap.add_argument("--read-route", metavar="ROUTE",
                    help="after the replay, also report the row count of "
                         "this tenant's route via the PRUNED read path "
                         "(read(route=...): manifest bucket/delta pruning "
                         "+ route PartitionFilters)")
    ap.add_argument("--fresh", action="store_true",
                    help="batch mode: replace a pre-existing lake at "
                         "--table-dir (and warm dirs) instead of refusing; "
                         "without it a table that already has a manifest is "
                         "an error rather than a silent destroy")
    ap.add_argument("--runs", type=int, default=1,
                    help="batch mode: replay N times into fresh lakes; the "
                         "first run pays JVM JIT warm-up (one-off for a "
                         "long-running CDC tail job), steady-state "
                         "throughput = median of runs 2..N")
    ap.add_argument("--gen-keys", type=int, default=100_000)
    ap.add_argument("--gen-files", type=int, default=32)
    ap.add_argument("--hot-pct", type=int, default=30)
    ap.add_argument("--probe-stamps", action="store_true",
                    help="bracket the replay with one in-JVM calibration "
                         "rep before and after (jvm_probe_pre/post_mrows "
                         "in the output JSON) — per-leg host-window "
                         "evidence for scaling sweeps; excluded from "
                         "every reported wall")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pyspark_cdc import generate
    from pyspark_cdc.session import apply_engine_conf
    from pyspark_cdc.sink import ParquetLake
    from pyspark_cdc.stream import replay_batch, replay_stream

    spark = SparkSession.builder.appName("pyspark_cdc_replay").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    apply_engine_conf(spark)

    if args.generate:
        generate.write_log(
            spark, args.log_dir, n_events=args.generate,
            n_keys=args.gen_keys, n_files=args.gen_files, hot_pct=args.hot_pct,
        )

    lake = ParquetLake(
        spark, args.table_dir, n_buckets=args.n_buckets,
        compact_every=args.compact_every or None,
    )

    probe_pre = _jvm_stamp(spark) if args.probe_stamps else None

    run_walls: list[float] = []
    if args.mode == "batch":
        import shutil as _shutil

        warm_dirs = []
        for r in range(1, args.runs + 1):
            run_dir = args.table_dir if r == args.runs else f"{args.table_dir}_warm{r}"
            # a pre-existing manifest would turn every merge into
            # skipped_duplicate_batch and silently measure no-ops — but
            # destroying a user's lake needs explicit opt-in (--fresh)
            if os.path.exists(os.path.join(run_dir, "_meta", "current")):
                if not args.fresh:
                    ap.error(
                        f"table dir {run_dir} already holds a lake manifest; "
                        "pass --fresh to replace it (batch replay would "
                        "otherwise skip every batch as a duplicate)"
                    )
                _shutil.rmtree(run_dir, ignore_errors=True)
            if r == args.runs:
                lake = run_lake = ParquetLake(
                    spark, run_dir, n_buckets=args.n_buckets,
                    compact_every=args.compact_every or None)
            else:
                warm_dirs.append(run_dir)
                run_lake = ParquetLake(spark, run_dir, n_buckets=args.n_buckets,
                                       compact_every=args.compact_every or None)
            # lineage metrics only for the final measured run, so the
            # metrics dir never mixes batch_ids from warm-up replays
            mdir = args.metrics_dir if r == args.runs else None
            rt0 = time.monotonic()
            stats = replay_batch(spark, args.log_dir, run_lake, metrics_dir=mdir,
                                 route_from_fields=args.route_from_fields)
            run_walls.append(round(time.monotonic() - rt0, 3))
        for d in warm_dirs:
            _shutil.rmtree(d, ignore_errors=True)
        wall = run_walls[-1]
    else:
        if not args.checkpoint:
            ap.error("--checkpoint is required in stream mode")
        from pyspark_cdc.metrics import MetricsWriter

        # lineage rides a background thread so the per-batch lineage job
        # overlaps the next batch's ingest; flushed before metrics reads
        metrics = MetricsWriter(args.metrics_dir, async_lineage=True)
        t0 = time.monotonic()
        if args.source == "kafka":
            if not (args.brokers and args.topics):
                ap.error("--source kafka requires --brokers and --topics")
            from pyspark_cdc.sources import kafka_stream
            from pyspark_cdc.stream import run_stream

            raw = kafka_stream(
                spark, args.brokers, args.topics,
                max_offsets_per_trigger=args.max_offsets_per_trigger,
            )
            q = run_stream(
                raw, lake, checkpoint_dir=args.checkpoint,
                metrics_dir=metrics,
                available_now=not args.continuous,
                route_from_fields=args.route_from_fields,
            )
        else:
            q = replay_stream(
                spark, args.log_dir, lake,
                checkpoint_dir=args.checkpoint, metrics_dir=metrics,
                max_files_per_trigger=args.max_files_per_trigger,
                route_from_fields=args.route_from_fields,
                available_now=not args.continuous,
            )
        q.awaitTermination()
        metrics.flush()  # drain background lineage before reading it
        stats = {"status": "stream_drained", "batches": lake.applied_batch_count()}
        wall = time.monotonic() - t0
        run_walls.append(round(wall, 3))
        # A drained stream that ran ZERO batches (restart with nothing
        # new, or an empty log) never creates the lineage dir — reading
        # it unconditionally would crash a successful run on
        # PATH_NOT_FOUND.
        if args.metrics_dir and os.path.isdir(
            os.path.join(args.metrics_dir, "lineage")
        ):
            # Sustained throughput from per-batch lineage: skip the first
            # SKIP batches (JVM class-load + JIT warm-up), then
            # events/sec = sum(records)/sum(batch wall) over the rest —
            # the honest "sustained CDC events/sec" of a long-running tail.
            from pyspark.sql import functions as F
            SKIP = 2
            per_batch = (
                spark.read.parquet(f"{args.metrics_dir}/lineage")
                .groupBy("batch_id")
                .agg(F.sum("n_records").alias("recs"),
                     F.max("batch_wall_ms").alias("wall_ms"))
                .orderBy("batch_id")
                .collect()
            )
            # warm-up skip must be RELATIVE to this run's first batch id:
            # after a checkpoint resume batch ids continue from the prior
            # run, and an absolute >= SKIP would skip nothing (counting
            # the fresh JVM's warm-up batches into "sustained")
            first = min((r["batch_id"] for r in per_batch), default=0)
            tail = [r for r in per_batch if r["batch_id"] >= first + SKIP]
            if tail:
                recs = sum(r["recs"] for r in tail)
                secs = sum(r["wall_ms"] for r in tail) / 1000.0
                stats["sustained_events_per_sec"] = round(recs / secs, 1) if secs else None
                stats["sustained_batches"] = len(tail)
                stats["sustained_events"] = recs
                stats["per_batch_wall_ms"] = [round(r["wall_ms"], 1) for r in per_batch]
                # Consumer-lag series (north rule "throughput/lag
                # metrics"): events still unprocessed after each batch.
                if args.source == "kafka":
                    # file log absent/unrelated here — lag comes from the
                    # streaming progress' log-end-vs-processed offsets.
                    lp = q.lastProgress or {}
                    srcs = lp.get("sources") or []
                    if srcs:
                        stats["kafka_latest_offset"] = srcs[0].get("latestOffset")
                        stats["kafka_end_offset"] = srcs[0].get("endOffset")
                else:
                    # total log size minus cumulative ingested records
                    total = spark.read.parquet(args.log_dir).count()
                    done = 0
                    lag = []
                    for r in per_batch:
                        done += r["recs"]
                        lag.append(int(total - done))
                    stats["per_batch_lag_events"] = lag

    # steady-state = MEDIAN wall of the post-warm-up runs: run-1
    # class-load/JIT cost is a one-off for a long-running CDC tail job;
    # the median of the remaining runs is robust to one-sided noise
    # without the best-case bias of a minimum (same statistic as bench.py).
    if len(run_walls) > 1:
        tail = sorted(run_walls[1:])
        steady = tail[len(tail) // 2] if len(tail) % 2 else (
            (tail[len(tail) // 2 - 1] + tail[len(tail) // 2]) / 2
        )
    else:
        steady = wall

    if args.mode == "stream" and args.source == "kafka":
        n_events = stats.get("sustained_events")  # no file log to count
    else:
        n_events = spark.read.parquet(args.log_dir).count()
    n_rows = lake.read().count()
    out = {
        "mode": args.mode,
        "master": spark.sparkContext.master,
        "wall_sec": steady,
        "run_walls_sec": run_walls,
        "n_events": n_events,
        "events_per_sec": round(n_events / steady, 1) if n_events and steady > 0 else None,
        "events_per_sec_cold": round(n_events / run_walls[0], 1) if n_events and run_walls[0] > 0 else None,
        "final_rows": n_rows,
        "snapshot": (lake.current_meta() or {}).get("id"),
        "merge": stats,
    }
    if args.probe_stamps:
        out["jvm_probe_pre_mrows"] = probe_pre
        out["jvm_probe_post_mrows"] = _jvm_stamp(spark)
    if args.read_route:
        out["route"] = args.read_route
        out["route_rows"] = lake.read(route=args.read_route).count()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
