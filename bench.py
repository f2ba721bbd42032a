#!/usr/bin/env python3
"""Headline benchmark for the pyspark-cdc engine (driver contract).

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q_replay": sec, ...}, "sf": 0.1, ...}

Headline workload:
  * q_replay        — the flagship: deterministic Debezium event-log replay
                      (parse -> delta append -> tiered folds into the
                      bucketed base) sized by sf;
                      `replay_events_per_sec` is the BASELINE.json north metric.
  * q_lww_state     — CDC final-state query over the driver `events` table.
  * q1_pricing      — TPC-H Q1-shaped agg over lineitem (scan+agg throughput).
  * q_topk_group    — top-k per group window over orders.
  * q_minhash_lsh   — MinHash+LSH near-dup candidate pairs over documents.
  * q_ann_cosine    — brute-force cosine top-k over embeddings.
  * q_text_quality  — tokenize + quality-score the documents table.

Two-cluster-size scaling evidence (north rule: efficiency >= 0.8 from N to
4N cores) is produced by scripts/scale_bench.sh -> BENCH/BASELINE.md; this
file is the per-round single-config harness the driver runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _cpu_rate(secs: float) -> float:
    import hashlib

    buf = b"x" * 8192
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < secs:
        buf = hashlib.sha256(buf).digest() * 256
        n += 1
    return n / (time.monotonic() - t0)


def _membw_rate(secs: float) -> float:
    src = bytearray(8 << 20)
    t0 = time.monotonic()
    n = 0
    while time.monotonic() - t0 < secs:
        bytes(src)
        src[0] = (src[0] + 1) & 0xFF
        n += 1
    return n / (time.monotonic() - t0)


def _probe_worker(q, fn, secs):
    q.put(fn(secs))


def host_probe(secs: float = 1.0) -> dict:
    """~5s pure-Python host-health stamp, run BEFORE the JVM starts and
    excluded from every reported wall.

    This box is a shared VM whose delivered performance swings up to 1.7x
    between windows (BENCH/BASELINE.md run matrix); the stamp makes each
    bench JSON self-describing. Two workloads because the host degrades
    them independently (measured: a window with pure-CPU par24 at 19x had
    the 16-core JVM probe at 0.7x of single — bandwidth contention):
      * cpu  — sha256 over an 8 KB buffer (OpenSSL, compute-bound);
      * membw — 8 MB buffer copies (exceeds L2, bandwidth-bound).
    Absolute single rates and the par-8/par-24 aggregate speedups are
    directly comparable across rounds and across builder/driver runs.
    """
    import multiprocessing as mp

    def cpu_rate() -> float:
        return _cpu_rate(secs)

    def membw_rate() -> float:
        return _membw_rate(secs)

    def parallel(fn, workers: int) -> float:
        # module-safe worker (no lambda target: spawn/forkserver start
        # methods can't pickle one) + bounded q.get so a killed worker
        # degrades the probe instead of hanging the whole bench
        q = mp.Queue()
        procs = [
            mp.Process(target=_probe_worker, args=(q, fn, secs))
            for _ in range(workers)
        ]
        for p in procs:
            p.start()
        agg = 0.0
        for _ in procs:
            try:
                agg += q.get(timeout=max(30.0, secs * 20))
            except Exception:
                pass  # a worker died: count what arrived
        for p in procs:
            p.join(timeout=10)
        return agg

    cpu1 = cpu_rate()
    cpu8 = parallel(_cpu_rate, 8)
    bw1 = membw_rate()
    bw24 = parallel(_membw_rate, 24)
    return {
        "host_cpu_single_rate": round(cpu1, 1),
        "host_cpu_par8_speedup": round(cpu8 / cpu1, 2) if cpu1 else None,
        "host_membw_single_rate": round(bw1, 1),
        "host_membw_par24_speedup": round(bw24 / bw1, 2) if bw1 else None,
    }


def _consume(df) -> int:
    """Force FULL evaluation of every output column and return the row
    count. df.count() alone lets Catalyst column-prune a pure-select
    query down to a row count — q_text_quality (a narrow projection with
    no agg/filter) was timing a pruned scan, not the tokenize/score
    work. Hashing every column in the same job keeps the upstream
    expressions in the plan; the hash itself runs over the query's small
    OUTPUT, so agg/join-ended queries are timed exactly as before."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*[F.col(c) for c in df.columns])).alias("_sig"),
    ).collect()[0]
    return int(row["n"])


def _jvm_rate(spark, n: int) -> float:
    """One rep of the JVM calibration expression; Mrows/s."""
    from pyspark.sql import functions as F

    df = spark.range(n, numPartitions=256)
    expr = F.sha2(
        F.concat_ws("_", F.col("id"), F.xxhash64("id"), F.xxhash64("id", F.lit(1))),
        256,
    )
    t0 = time.monotonic()
    df.select(F.max(expr).alias("m")).collect()
    return n / (time.monotonic() - t0) / 1e6


# Below this delivered JVM rate the host is in a contention STORM, not
# ordinary noise: clean windows measure 7.5–25.5 Mrows/s on this probe and
# ordinary degraded windows 3–6; storm windows measure 0.15–1.4 (2026-08-18
# incident, BENCH/BASELINE.md host-calibration appendix) while the
# pure-Python CPU probe stays healthy — the hypervisor throttles the JVM
# specifically, 20–100x. Calibrated at local[32]; the probe's rate scales
# with the session's cores, so the gate compares against storm_mrows().
STORM_MROWS = 2.5
STORM_CALIBRATION_CPUS = 32


def storm_mrows(spark) -> float:
    """STORM_MROWS scaled to this session's cores (defaultParallelism):
    at local[4] the threshold is 2.5 * 4/32 = 0.31 Mrows/s."""
    cpus = spark.sparkContext.defaultParallelism
    return STORM_MROWS * cpus / STORM_CALIBRATION_CPUS


def jvm_probe(spark, n: int = 30_000_000) -> dict:
    """~5s in-session JVM calibration: sha2+xxhash64 over spark.range —
    compute-bound, zero I/O, zero shuffle, allocation-heavy like the JSON
    parse hot path. Runs in the SAME JVM/window as the bench, so its
    rows/sec is the direct cross-run comparator for delivered JVM
    throughput (the pure-Python stamps miss JVM-side contention: a window
    with host_cpu_par8_speedup at 9x ran this 2x slower than clean).
    Excluded from every reported wall.
    """
    from pyspark.sql import functions as F

    df = spark.range(n, numPartitions=256)
    expr = F.sha2(
        F.concat_ws("_", F.col("id"), F.xxhash64("id"), F.xxhash64("id", F.lit(1))),
        256,
    )
    df.limit(1_000_000).select(F.max(expr)).collect()  # JIT warm-up
    # A small SIZING rep first: in a storm window one 30M-row rep costs
    # 200+ s, so it decides the measured reps' size — but it is reported
    # SEPARATELY, never mixed into the median/min-max (a 5M rep carries
    # proportionally more per-task overhead at 256 partitions and would
    # skew the stamp low vs prior rounds' 3x30M stamps).
    sizing = _jvm_rate(spark, 5_000_000)
    rep_n = n if sizing >= storm_mrows(spark) else 5_000_000
    # contention is BURSTY (measured 3.4x swing in 2 min) => 3 reps
    rates = sorted(_jvm_rate(spark, rep_n) for _ in range(3))
    return {
        "jvm_probe_mrows_per_sec": round(rates[1], 2),
        "jvm_probe_mrows_min_max": [round(rates[0], 2), round(rates[-1], 2)],
        "jvm_probe_sizing_rep": round(sizing, 2),
        "jvm_probe_rep_rows": rep_n,
    }


def wait_out_storm(spark, first_rate: float, max_waits: int = 5) -> dict:
    """Bounded calibrate-then-measure gate for host contention storms.

    This shared VM has minute-scale windows in which the hypervisor
    throttles JVM execution 20–100x while pure-Python CPU stays healthy
    (see STORM_MROWS, scaled per core by storm_mrows). Measuring the
    engine inside such a window records the host, not the engine — so
    if the calibration probe reads a storm, sleep and re-probe up to
    max_waits times (~45 s apart, each re-probe a single bounded 5M-row
    rep) and start measuring only when the window
    clears or the budget is spent. Every attempt's rate is recorded in the
    output JSON (`jvm_probe_wait_rates`) — nothing is dropped or hidden,
    and the gate never touches a reported wall; it only chooses WHEN the
    measurement starts, exactly like re-running a benchmark on a quiet
    machine.
    """
    threshold = storm_mrows(spark)
    waits: list[float] = [round(first_rate, 2)]
    rate = first_rate
    while rate < threshold and len(waits) <= max_waits:
        time.sleep(45)
        rate = _jvm_rate(spark, 5_000_000)
        waits.append(round(rate, 2))
    return {"jvm_probe_wait_rates": waits} if len(waits) > 1 else {}


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyspark_cdc_bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_replay(spark, sf: float, workdir: str) -> tuple[float, dict]:
    """Flagship CDC replay sized by sf (sf0.1 -> 2M events, 200k keys).

    Four runs into fresh lakes: run 1 pays JVM class-load/JIT warm-up (a
    one-off for a long-running CDC tail job); headline = true median of
    runs 2-4 (steady state) — the same statistic jobs/replay.py reports.
    Cold-run throughput is reported alongside.
    """
    from pyspark_cdc import generate
    from pyspark_cdc.sink import ParquetLake
    from pyspark_cdc.stream import replay_batch

    n_events = max(20_000, int(20_000_000 * sf))
    n_keys = max(2_000, n_events // 10)
    log_dir = os.path.join(workdir, "log")
    generate.write_log(
        spark, log_dir, n_events=n_events, n_keys=n_keys,
        n_files=32, hot_pct=30, include_edge_cases=False,
    )
    walls = []
    n_rows = 0

    def one_run(run: int) -> None:
        nonlocal n_rows
        lake = ParquetLake(
            spark, os.path.join(workdir, f"lake{run}"), n_buckets=64, mode="mor"
        )
        t0 = time.monotonic()
        replay_batch(spark, log_dir, lake)
        n_rows = lake.read().count()
        walls.append(time.monotonic() - t0)

    for run in (1, 2, 3, 4):
        one_run(run)
    # A >3x spread across the measured runs means a contention storm hit
    # mid-bench (identical input, identical code; clean-window spread is
    # <1.3x) — two bounded extra runs make the median robust to it. All
    # walls are reported either way.
    if max(walls[1:]) / max(min(walls[1:]), 1e-9) > 3.0:
        one_run(5)
        one_run(6)
    tail = sorted(walls[1:])
    steady = tail[len(tail) // 2]  # odd-length tail => exact median
    return steady, {
        "replay_n_events": n_events,
        "replay_events_per_sec": round(n_events / steady, 1),
        "replay_events_per_sec_cold": round(n_events / walls[0], 1),
        "replay_run_walls": [round(w, 3) for w in walls],
        "replay_final_rows": n_rows,
    }


HEADLINE = [
    # (bench key, queries() registry key)
    ("q_lww_state", "cdc_lww_final_state"),
    ("q1_pricing", "q_tpch_q1"),
    ("q_topk_group", "q_topk_per_group"),
    ("q_minhash_lsh", "dedup_minhash_lsh"),
    ("q_ann_cosine", "ann_bruteforce_topk"),
    ("q_text_quality", "text_quality_score"),
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark_cdc.queries import REGISTRY

    probe = host_probe()
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jp = jvm_probe(spark)
    gate = wait_out_storm(spark, jp["jvm_probe_mrows_per_sec"])
    if gate:
        probe.update(gate)
        jp = jvm_probe(spark)  # re-stamp the window the bench actually runs in
    probe.update(jp)
    workdir = tempfile.mkdtemp(prefix="pyspark_cdc_bench_")

    queries: dict[str, float] = {}
    extras: dict = {}
    try:
        wall, extras = bench_replay(spark, sf, workdir)
        queries["q_replay"] = round(wall, 3)

        # Each headline query runs 3x and reports the MEDIAN, with the raw
        # walls alongside — shared-host noise (up to 1.7x swing, see
        # BENCH/BASELINE.md run matrix) must not masquerade as engine
        # changes round over round.
        available = {name: fn for name, (fn, _sql) in REGISTRY.items()}
        for bench_key, reg_key in HEADLINE:
            fn = available.get(reg_key)
            if fn is None:
                continue
            walls = []
            n = 0
            for _run in range(3):
                t0 = time.monotonic()
                df = fn(spark, sf_dir)
                n = _consume(df)
                walls.append(round(time.monotonic() - t0, 3))
            queries[bench_key] = sorted(walls)[1]  # median of 3
            extras[f"{bench_key}_rows"] = n
            extras[f"{bench_key}_walls"] = walls
        # One bounded rep AFTER the suite: did the window shift mid-bench?
        extras["jvm_probe_after_mrows_per_sec"] = round(
            _jvm_rate(spark, 5_000_000), 2
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "cdc_replay_plus_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        **probe,
        **extras,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
