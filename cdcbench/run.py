"""CDC benchmark: one run of one workload.

    python3 cdcbench/run.py --workload serve_reads --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics; with --trace 1 they are
the per-layer metrics of a traced run (spans, Spark job groups and the
Spark event log). A line starting with "summary " before it carries the
per-operation medians, sample counts, host stamps and, in a traced run,
the run's own end-to-end figures (to compare with an untraced run).
Everything the run writes goes under .cdcbench_work/ in the checkout and
is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import hoststat  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".cdcbench_work")

# (name, unit) of every end-to-end metric, as BENCHMARK.json lists them
END_TO_END = [
    ("setup_s", "s"),
    ("round_cpu_s", "s"),
    ("lake_bytes_per_log_byte", "ratio"),
]

# (metric, unit, span name, field) of every per-layer metric; span names
# are the ones the workloads and the traced run's patches open
_READ_FIELDS = [("wall_s", "s"), ("cpu_s", "s"), ("driver_s", "s"),
                ("input_mb", "MB"), ("shuffle_mb", "MB"), ("backlog_deltas", "count")]
_FOLD_FIELDS = [("wall_s", "s"), ("cpu_s", "s"), ("shuffle_mb", "MB"),
                ("rewritten_mb", "MB")]
PER_LAYER = (
    [(f"sources.scan.{f}", u, "sources.scan", f)
     for f, u in [("wall_s", "s"), ("cpu_s", "s"), ("input_mb", "MB")]]
    + [("parse.self_s", "s", None, None), ("parse.cpu_s", "s", None, None),
       ("parse.records_ok", "count", None, None), ("parse.records_dlq", "count", None, None)]
    + [(f"sink.merge_parsed.{f}", u, "sink.merge_parsed", f)
       for f, u in [("wall_s", "s"), ("write_s", "s"), ("setup_ms", "ms"), ("obs_ms", "ms"),
                    ("commit_ms", "ms"), ("jobs", "count"), ("delta_mb", "MB"),
                    ("delta_files", "count")]]
    + [(f"sink.fold_minor.{f}", u, "sink.fold_minor", f) for f, u in _FOLD_FIELDS]
    + [(f"sink.fold_major.{f}", u, "sink.fold_major", f) for f, u in _FOLD_FIELDS]
    + [(f"sink.read.{f}", u, "sink.read", f) for f, u in _READ_FIELDS]
    + [(f"sink.read_route.{f}", u, "sink.read_route", f) for f, u in _READ_FIELDS]
    + [(f"sink.lookup_many.{f}", u, "sink.lookup_many", f)
       for f, u in [("wall_s", "s"), ("cpu_s", "s"), ("driver_s", "s"), ("jobs", "count"),
                    ("input_mb_per_key", "MB/key")]]
    + [(f"sink.read_changes.{f}", u, "sink.read_changes", f)
       for f, u in [("wall_s", "s"), ("cpu_s", "s"), ("driver_s", "s"), ("input_mb", "MB"),
                    ("shuffle_mb", "MB"), ("rows_out", "count")]]
    + [(f"search_sync.sync_once.{f}", u, "search_sync.sync_once", f)
       for f, u in [("wall_s", "s"), ("self_s", "s"), ("rows", "count"), ("segment_mb", "MB")]]
    + [(f"stream.process_batch.{f}", u, "stream.process_batch", f)
       for f, u in [("wall_s", "s"), ("driver_s", "s")]]
    + [("jvm.gc_s", "s", None, None), ("jvm.peak_heap_mb", "MB", None, None)]
)


def start_spark(work: str, trace: bool):
    from pyspark_cdc.session import get_spark

    # the driver JVM is the only executor in local mode; 3g of heap
    # leaves most of a 15 GB host to the OS cache and other tenants
    os.environ["PYSPARK_CDC_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the host's /tmp; a fixed set of JIT
        # compiler threads, so their CPU can be told apart (hoststat)
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                          " -XX:-UseDynamicNumberOfCompilerThreads"),
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("cdcbench", cores=min(4, os.cpu_count() or 4), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (it exits when
    its standard input closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def patch_inner_calls(tracer) -> None:
    """Traced runs only: spans around the calls process_batch and
    compact_now make inside the sink, patched in from outside."""
    from pyspark_cdc.sink import ParquetLake

    from workloads import dir_bytes

    def merge_info(stats):
        t = stats.get("timings", {})
        d = stats.get("delta_dir")
        files = glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True) if d else []
        return {"write_s": stats.get("write_sec", 0.0), "setup_ms": t.get("setup_ms", 0.0),
                "obs_ms": t.get("obs_ms", 0.0), "commit_ms": t.get("commit_ms", 0.0),
                "delta_mb": (dir_bytes(d) if d else 0) / 2**20, "delta_files": len(files)}

    tracer.wrap(ParquetLake, "merge_parsed", "sink.merge_parsed", merge_info)
    # inline folds have no public entry point; these two methods are the
    # minor and major fold the tiered policy dispatches to
    tracer.wrap(ParquetLake, "_compact_minor", "sink.fold_minor")
    tracer.wrap(ParquetLake, "_compact", "sink.fold_major")


def per_layer(run, layers: dict, tracer, jvm: dict) -> dict:
    for s in layers.values():
        s["rewritten_mb"] = s.get("output_mb", 0.0)
    look = layers.get("sink.lookup_many", {})
    if look.get("keys"):
        look["input_mb_per_key"] = look.get("input_mb", 0.0) / look["keys"]
    syncs = [s for s in tracer.spans if s.name == "search_sync.sync_once"
             and s.phase == ("timed" if run.workload == "ingest_sync" else "check")]
    ids = {x.id for x in syncs}
    iso = {s.op: s.wall for s in tracer.spans if s.op in ids}
    if syncs and "search_sync.sync_once" in layers:
        layers["search_sync.sync_once"]["self_s"] = statistics.median(
            s.wall - iso.get(s.id, 0.0) for s in syncs)
    scan, parse = layers.get("sources.scan", {}), layers.get("parse.noop", {})
    stats = run.stats_by_batch.get(1, {})
    extra = {
        "parse.self_s": parse.get("wall_s", 0.0) - scan.get("wall_s", 0.0),
        "parse.cpu_s": parse.get("cpu_s", 0.0) - scan.get("cpu_s", 0.0),
        "parse.records_ok": stats.get("n_ok", 0),
        "parse.records_dlq": stats.get("n_records", 0) - stats.get("n_ok", 0),
        "jvm.gc_s": jvm["gc_s"],
        "jvm.peak_heap_mb": jvm["peak_heap_mb"],
    }
    out = {}
    for name, unit, span, field in PER_LAYER:
        v = extra[name] if span is None else layers.get(span, {}).get(field, 0.0)
        out[name] = {"value": v, "unit": unit}
    return out


def end_to_end(run, timed: dict) -> dict:
    rounds = len(run.round_walls)
    values = {
        # CPU seconds at the reference host speed (hoststat.REF_LOOP_S)
        "setup_s": hoststat.at_reference_speed(run.setup_cpu_s, run.speed),
        "round_cpu_s": hoststat.at_reference_speed(
            (timed["cpu_s"] - timed["jit_cpu_s"]) / rounds, run.speed),
        "lake_bytes_per_log_byte": timed["lake_bytes_per_log_byte"],
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def median_or_none(values):
    return statistics.median(values) if values else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve_reads", "ingest_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import pyspark_cdc  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: cannot import the program ({e}); run from a checkout root",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    try:
        return run_once(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def run_once(args, work: str) -> int:
    import workloads
    from spans import Tracer, layer_table, parse_event_log

    spark = start_spark(work, bool(args.trace))
    t_jvm = time.monotonic() - T_START
    try:
        tracer = Tracer(spark.sparkContext if args.trace else None, args.workload)
        if args.trace:
            patch_inner_calls(tracer)
        run = workloads.Run(args.workload, args.seed, args.seconds, work, T_START)
        run.proc = hoststat.Processes(spark)
        run.marks["jvm_started"] = round(t_jvm, 2)
        run.sample_speed()
        run.write_log()
        run.mark("log_written")
        log_rows, log_digest = run.log_digest()
        timed = workloads.WORKLOADS[args.workload](run, spark, tracer)
    finally:
        stop_spark(spark)
    run.mark("jvm_stopped")

    e2e = end_to_end(run, timed)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "log_rows": log_rows, "log_digest": log_digest,
        "setup_marks": run.marks, "rounds": len(run.round_walls),
        "timed_wall_s": timed["timed_wall_s"],
        # printed but not bounded: CPU stolen by other tenants of the host
        # moves the wall figures by up to 2x between runs, and peak RSS
        # follows when the collector runs (cdcbench/README.md)
        "setup_wall_s": run.setup_wall_s,
        "round_p50_s": statistics.median(run.round_walls),
        # None when every lookup raised (counted in failed)
        "lookup_p50_s": median_or_none(run.samples.get("lookup")),
        "lookup_cpu_s": median_or_none(run.cpu.get("lookup")),
        "ops": {k: {"n": len(v), "p50_s": statistics.median(v),
                    **({"cpu_p50_s": statistics.median(run.cpu[k])} if k in run.cpu else {})}
                for k, v in run.samples.items() if v},
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "jvm_peak_rss_mb": timed["jvm_peak_rss_mb"],
        # the same CPU figures before scaling to the reference host speed
        "setup_cpu_s": run.setup_cpu_s,
        "round_cpu_raw_s": (timed["cpu_s"] - timed["jit_cpu_s"]) / len(run.round_walls),
        "ref_loop_s": {"median": statistics.median(run.speed),
                       "min": min(run.speed), "max": max(run.speed)},
        "round_jit_cpu_s": timed["jit_cpu_s"] / len(run.round_walls),
        "host": run.host, "errors": run.errors[:5], "wrong": run.wrong_answers[:5],
    }
    metrics = e2e
    if args.trace:
        logs = glob.glob(os.path.join(work, "eventlog", "*"))
        with open(logs[0]) as f:
            groups, jvm = parse_event_log(f)
        layers = layer_table(tracer.spans, groups)
        metrics = per_layer(run, layers, tracer, jvm)
        summary["layers"] = layers
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        tracer.write(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    print("summary " + json.dumps(summary), flush=True)
    correct = not run.wrong_answers
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
