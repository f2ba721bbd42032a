"""The benchmark's workloads, driven through the program's public API.

Each workload is a single-process closed loop with one client: set-up
(JVM start, input generation, lake build, which is also the warm-up), a
timed phase of whole rounds that lasts `seconds`, and then output
checks against the DuckDB oracle (outside every metric). Lakes use the
deployment defaults of jobs/replay.py: mode="mor", 64 buckets,
compact_every=10, major_every=4.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time
import traceback

import checks
import hoststat
from spans import Tracer

HOT_REPO = "org0/hot-repo"
TENANT_ROUTE = "cdc.public.repo_files"
LAKE_OPTS = dict(n_buckets=64, mode="mor", compact_every=10, major_every=4)

# Batch 0 carries the generator's edge cases plus `first` bulk events;
# batches 1..n_small carry `small` bulk events each. n_keys is the
# generator's key space (a twentieth of it is the hot repo's paths).
SIZES = {
    "serve_reads": dict(first=4_000, small=1_000, n_small=3, n_keys=2_000),
    "ingest_sync": dict(first=4_000, small=1_000, n_small=4, n_keys=2_000),
}
# A timed serve_reads round is one pass of its read mix; an ingest_sync
# round is two steps, since one step (half as long as a pass) is too
# little work for a steady CPU figure. More would not fit the run budget.
STEPS_PER_ROUND = 2
LOOKUP_KEYS = 16
# reference-loop samples taken after JVM start, before and after the
# timed phase (hoststat.reference_loop_s, about 0.1 s each)
SPEED_SAMPLES = 8


class Run:
    """State shared by the phases of one run."""

    def __init__(self, workload, seed, seconds, work, t_start):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.t_start = work, t_start
        self.sizes = SIZES[workload]
        self.rng = random.Random(seed)
        self.log_dir = os.path.join(work, "log")
        self.lake_dir = os.path.join(work, "lake")
        self.samples: dict[str, list[float]] = {}  # wall per op kind
        self.cpu: dict[str, list[float]] = {}  # process CPU per op kind
        self.proc = None  # hoststat.Processes, once Spark runs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # operations that raised
        self.wrong_answers: list[str] = []
        self.round_walls: list[float] = []
        self.ingested: list[int] = []  # batch indexes, in commit order
        self.stats_by_batch: dict[int, dict] = {}
        self.marks: dict[str, float] = {}  # set-up milestones, s since start
        self.speed: list[float] = []  # reference-loop samples

    def sample_speed(self) -> None:
        """Time the reference loop while Spark is idle; its CPU is in the
        driver process's CPU and is taken out of set-up CPU."""
        self.speed.extend(hoststat.host_speed(SPEED_SAMPLES))

    def mark(self, what: str) -> None:
        self.marks[what] = round(time.monotonic() - self.t_start, 2)

    # ------------------------------------------------------------ inputs

    def batch_dir(self, k: int) -> str:
        return os.path.join(self.log_dir, f"batch={k}")

    def offset_bound(self, k: int) -> int:
        """Every event of batches 0..k has an offset below this."""
        from pyspark_cdc.generate import BULK_LSN_BASE

        return BULK_LSN_BASE + self.sizes["first"] + k * self.sizes["small"]

    def write_log(self) -> None:
        """Batch 0: the generator's edge cases plus the first `first` bulk
        events; batch k > 0: the next `small` bulk events. Each batch is
        one parquet file in its own directory, the unit a Kafka-shaped
        micro-batch is read from.

        The bulk events come from pylog.bulk_events_py, the pure-Python
        twin of generate.bulk_events_df (same event mix), which derives
        every value from its module seed: set to --seed here."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark_cdc import generate, pylog

        s = self.sizes
        edges = generate.edge_case_events()
        if max(e["offset"] for e in edges) >= generate.BULK_LSN_BASE:
            raise RuntimeError("edge-case offsets overlap the bulk log")
        pylog.FLAGSHIP_SEED = self.seed
        bulk = pylog.bulk_events_py(n_events=s["first"] + s["small"] * s["n_small"],
                                    n_keys=s["n_keys"])
        kafka_shape = pa.schema([("key", pa.string()), ("value", pa.string()),
                                 ("topic", pa.string()), ("partition", pa.int32()),
                                 ("offset", pa.int64())])
        batches = [edges + bulk[:s["first"]]] + [
            bulk[s["first"] + i * s["small"]:s["first"] + (i + 1) * s["small"]]
            for i in range(s["n_small"])]
        for k, events in enumerate(batches):
            os.makedirs(self.batch_dir(k))
            pq.write_table(pa.Table.from_pylist(events, schema=kafka_shape),
                           os.path.join(self.batch_dir(k), "events.parquet"))

    def batch_files(self, k: int) -> list[str]:
        return sorted(glob.glob(os.path.join(self.batch_dir(k), "*.parquet")))

    def log_digest(self) -> tuple[int, str]:
        """Row count and sha256 over the log's files, in batch order."""
        import hashlib

        import pyarrow.parquet as pq

        h, rows = hashlib.sha256(), 0
        for k in range(self.sizes["n_small"] + 1):
            for f in self.batch_files(k):
                rows += pq.read_metadata(f).num_rows
                with open(f, "rb") as fh:
                    h.update(fh.read())
        return rows, h.hexdigest()[:16]

    def batch_keys(self, k: int) -> list[tuple[str, str]]:
        """Distinct (repo, path) Kafka keys of one batch, in log order."""
        import pyarrow.parquet as pq

        out = {}
        for f in self.batch_files(k):
            for key in pq.read_table(f, columns=["key"]).column("key").to_pylist():
                try:
                    d = json.loads(key)
                    out[(str(d["repo"]), str(d["path"]))] = None
                except (TypeError, ValueError, KeyError):
                    continue
        return list(out)

    def pick_keys(self, pool: list[tuple[str, str]]) -> list[tuple[str, str]]:
        """LOOKUP_KEYS keys, half of them from the hot repo when it has
        enough (the hot repo holds a twentieth of the key space)."""
        hot = [k for k in pool if k[0] == HOT_REPO]
        cold = [k for k in pool if k[0] != HOT_REPO]
        n_hot = min(len(hot), LOOKUP_KEYS // 2)
        return (self.rng.sample(hot, n_hot)
                + self.rng.sample(cold, min(len(cold), LOOKUP_KEYS - n_hot)))

    def log_bytes(self, batches) -> int:
        return sum(os.path.getsize(f) for k in set(batches) for f in self.batch_files(k))

    # ------------------------------------------------------------ ops

    def op(self, kind: str, fn):
        """One timed operation: counted, timed, and kept running on error."""
        self.attempted += 1
        c0 = self.proc.cpu_s()
        t0 = time.monotonic()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - the loop must keep running
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            print(traceback.format_exc(), file=sys.stderr)
            return None
        self.samples.setdefault(kind, []).append(time.monotonic() - t0)
        self.cpu.setdefault(kind, []).append(self.proc.cpu_s() - c0)
        return out

    def wrong(self, what: str, problems: list[str]) -> None:
        """A wrong answer of an operation counted by `op` makes that
        operation failed and the run incorrect."""
        if problems:
            self.failed += 1
            self.wrong_answers.append(f"{what}: {problems}")

    def check(self, what: str, problems: list[str]) -> None:
        """A check of an answer no `op` produced (the index state, the
        traced run's final reads) is an attempted operation of its own."""
        self.attempted += 1
        self.wrong(what, problems)


def consume(df, changes: bool = False) -> list:
    """Collect one ((repo, path), (sha256(content), route)) per row, with
    an xxhash64 over every output column so no column can be pruned away.
    For a change feed, return (key, change type, value) rows instead."""
    from pyspark.sql import functions as F

    from pyspark_cdc.sink import CHANGE_TYPE_COL, ROUTE_COL

    cols = [F.col("repo"), F.col("path"),
            F.sha2(F.col("content"), 256).alias("h"), F.col(ROUTE_COL),
            F.xxhash64(*[F.col(c) for c in df.columns]).alias("x")]
    if changes:
        cols.append(F.col(CHANGE_TYPE_COL))
    rows = df.select(*cols).collect()
    if changes:
        return [((r[0], r[1]), r[5], (r[2], r[3])) for r in rows]
    return [((r[0], r[1]), (r[2], r[3])) for r in rows]


def ingest(run: Run, tracer: Tracer, lake, k: int, batch_id: int) -> dict:
    from pyspark_cdc import stream
    from pyspark_cdc.sources import file_batch

    with tracer.span("stream.process_batch", batch_id):
        stats = stream.process_batch(file_batch(lake.spark, run.batch_dir(k)), batch_id, lake)
    if stats.get("status") != "committed":
        raise RuntimeError(f"batch {batch_id}: {stats.get('status')}")
    run.ingested.append(k)
    run.stats_by_batch[k] = stats
    return stats


def fold(tracer: Tracer, lake, tier: str) -> None:
    with tracer.span("sink.compact_now"):
        lake.compact_now(tier=tier)


# ---------------------------------------------------------------- serve_reads


def serve_reads(run: Run, spark, tracer: Tracer) -> dict:
    """Readers only: a folded lake with three raw deltas outstanding,
    read by a fixed mix of lookup_many, a tenant read, a full read and
    read_changes over the outstanding range. The lake build (first
    ingest, a major fold that reads and merges the lake, three more
    ingests) is the warm-up."""
    from pyspark_cdc.sink import ParquetLake

    lake = ParquetLake(spark, run.lake_dir, **LAKE_OPTS)
    ingest(run, tracer, lake, 0, 0)
    run.mark("batch0_ingested")
    fold(tracer, lake, "major")
    run.mark("folded")
    snap_a = lake.current_meta()["id"]
    for k in (1, 2, 3):
        ingest(run, tracer, lake, k, k)
    snap_b = lake.current_meta()["id"]
    run.mark("lake_built")
    pool = [key for k in range(run.sizes["n_small"] + 1) for key in run.batch_keys(k)]
    backlog = len(lake.current_meta()["deltas"])
    results = []

    def one_round(i):
        keys = run.pick_keys(pool)
        calls = [
            ("lookup", "sink.lookup_many", keys, lambda: consume(lake.lookup_many(keys))),
            ("tenant_read", "sink.read_route", None,
             lambda: consume(lake.read(route=TENANT_ROUTE))),
            ("scan", "sink.read", None, lambda: consume(lake.read())),
            ("changes", "sink.read_changes", None,
             lambda: consume(lake.read_changes(snap_a, snap_b), changes=True)),
        ]
        for kind, span, op_keys, fn in calls:
            with tracer.span(span, i) as s:
                out = run.op(kind, fn)
                if s is not None and out is not None:
                    s.info["rows_out"] = len(out)
                    s.info["backlog_deltas"] = backlog
                    if kind == "lookup":
                        s.info["keys"] = len(op_keys)
            results.append((kind, op_keys, out))

    tracer.phase = "timed"
    timed = run_timed(run, one_round)
    tracer.phase = "check"
    timed["lake_bytes_per_log_byte"] = dir_bytes(run.lake_dir) / run.log_bytes(run.ingested)

    oracle = checks.Oracle([f for k in range(4) for f in run.batch_files(k)], run.work)
    try:
        want = oracle.state(run.offset_bound(3))
        state_a = oracle.state(run.offset_bound(0))
    finally:
        oracle.close()
    for kind, keys, out in results:
        if out is None:
            continue
        if kind == "lookup":
            run.wrong("lookup_many", checks.check_lookup(out, want, keys))
        elif kind == "tenant_read":
            run.wrong("read(route)", checks.check_route(out, want, TENANT_ROUTE))
        elif kind == "scan":
            run.wrong("read()", checks.diff(out, want))
        else:
            run.wrong("read_changes", checks.check_changes(state_a, out, want))

    if tracer.enabled:
        trace_epilogue(run, spark, tracer, lake)
        from pyspark_cdc.search_sync import SearchIndexSync

        # serve_reads has no index of its own: bootstrap one once, and
        # charge its read to an isolated read of the same snapshot
        sync = SearchIndexSync(spark, os.path.join(run.work, "index"), lake)
        with tracer.span("search_sync.sync_once") as s:
            got = sync.sync_once()
            s.info.update(rows=got.get("n_rows") or 0,
                          segment_mb=dir_bytes(sync.index_dir) / 2**20)
        with tracer.span("isolation.sync_read", s.id):
            lake.read(snapshot_id=snap_b).write.format("noop").mode("overwrite").save()
        fold(tracer, lake, "minor")
    return timed


# ---------------------------------------------------------------- ingest_sync


def ingest_sync(run: Run, spark, tracer: Tracer) -> dict:
    """Writes beside reads: each step ingests one small micro-batch,
    ships the net changes to a bootstrapped search index, and reads
    keys of that batch back. The lake starts as one raw delta (batch 0)
    and each step adds one to the backlog the lookups and the sync read
    through. The first ingest and the index bootstrap (a full read of
    the lake) are the warm-up."""
    from pyspark_cdc.search_sync import SearchIndexSync
    from pyspark_cdc.sink import ParquetLake

    lake = ParquetLake(spark, run.lake_dir, **LAKE_OPTS)
    ingest(run, tracer, lake, 0, 0)
    run.mark("lake_built")
    sync = SearchIndexSync(spark, os.path.join(run.work, "index"), lake)
    with tracer.span("search_sync.sync_once", "bootstrap"):
        sync.sync_once()
    run.mark("index_bootstrapped")
    n_small = run.sizes["n_small"]
    keys_of = {k: run.pick_keys(run.batch_keys(k)) for k in range(1, n_small + 1)}
    lookups = []
    syncs = []

    def step(i):
        # a run longer than the log replays it from batch 1 under new
        # batch ids
        k = 1 + i % n_small
        keys = keys_of[k]
        t0 = time.monotonic()
        run.op("batch", lambda: ingest(run, tracer, lake, k, i + 1))
        with tracer.span("search_sync.sync_once", i) as s:
            got = run.op("sync", sync.sync_once)
            if s is not None and got:
                seg = os.path.join(sync.index_dir, sync._seg_name(got["synced_snapshot"]))
                s.info.update(rows=got.get("n_rows") or 0, segment_mb=dir_bytes(seg) / 2**20)
        run.samples.setdefault("index_lag", []).append(time.monotonic() - t0)
        if got and s is not None:
            syncs.append((got["from_snapshot"], got["synced_snapshot"], s.id,
                          got.get("n_rows") or 0))
        with tracer.span("sink.lookup_many", i) as s:
            out = run.op("lookup", lambda: consume(lake.lookup_many(keys)))
            if s is not None and out is not None:
                s.info.update(rows_out=len(out), keys=len(keys))
        lookups.append((max(run.ingested), keys, out))

    tracer.phase = "timed"
    timed = run_timed(run, lambda r: [step(r * STEPS_PER_ROUND + j)
                                      for j in range(STEPS_PER_ROUND)])
    timed["lake_bytes_per_log_byte"] = dir_bytes(run.lake_dir) / run.log_bytes(run.ingested)
    tracer.phase = "check"

    last = max(run.ingested)
    index = sync_state(sync)
    run.mark("index_read")
    oracle = checks.Oracle([f for k in range(last + 1) for f in run.batch_files(k)], run.work)
    run.mark("oracle_loaded")
    try:
        states = {}
        for k, keys, out in lookups:
            if out is None:
                continue
            if k not in states:
                states[k] = oracle.state(run.offset_bound(k))
            run.wrong("lookup_many", checks.check_lookup(out, states[k], keys))
        want = oracle.state(run.offset_bound(last))
    finally:
        oracle.close()
    run.check("SearchIndexSync.state()", checks.diff(index, want))
    run.mark("checked")

    if tracer.enabled:
        trace_epilogue(run, spark, tracer, lake)
        # sync_once self time: the same ranges read by read_changes alone
        for frm, to, sid, rows in syncs:
            with tracer.span("sink.read_changes", sid) as s:
                s.info["rows_out"] = rows
                lake.read_changes(frm, to).write.format("noop").mode("overwrite").save()
        # the layers this workload's loop does not call, on its final lake
        backlog = len(lake.current_meta()["deltas"])
        with tracer.span("sink.read", "final") as s:
            s.info["backlog_deltas"] = backlog
            run.check("final read()", checks.diff(consume(lake.read()), want))
        with tracer.span("sink.read_route", "final") as s:
            s.info["backlog_deltas"] = backlog
            run.check("final read(route)", checks.check_route(
                consume(lake.read(route=TENANT_ROUTE)), want, TENANT_ROUTE))
        fold(tracer, lake, "minor")
        fold(tracer, lake, "major")
    return timed


def sync_state(sync) -> list:
    from pyspark.sql import functions as F

    from pyspark_cdc.sink import ROUTE_COL

    rows = sync.state().select(
        "repo", "path", F.sha2(F.col("content"), 256), F.col(ROUTE_COL)).collect()
    return [((r[0], r[1]), (r[2], r[3])) for r in rows]


# ---------------------------------------------------------------- shared


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def run_timed(run: Run, one_round) -> dict:
    """The timed phase: whole rounds for at least `run.seconds`, with
    process CPU and host stamps around them. Set-up time ends where this
    starts."""
    run.setup_wall_s = time.monotonic() - run.t_start
    run.sample_speed()
    host0 = hoststat.host_stamp()
    cpu0 = run.proc.cpu_s()
    jit0 = run.proc.jit_cpu_s()
    # the JVM's and this process's CPU from their start
    run.setup_cpu_s = cpu0 - sum(run.speed)
    t0 = time.monotonic()
    while True:
        r0 = time.monotonic()
        one_round(len(run.round_walls))
        run.round_walls.append(time.monotonic() - r0)
        if time.monotonic() - t0 >= run.seconds:
            break
    wall = time.monotonic() - t0
    cpu = run.proc.cpu_s() - cpu0
    jit = run.proc.jit_cpu_s() - jit0
    host1 = hoststat.host_stamp()
    run.sample_speed()
    # the share of the host's CPU capacity other tenants took meanwhile
    steal = (host1["steal_s"] - host0["steal_s"]) / (wall * host0["nproc"])
    run.host = {"before": host0, "after": host1, "steal_share": steal}
    return {"timed_wall_s": wall, "cpu_s": cpu, "jit_cpu_s": jit,
            "jvm_peak_rss_mb": run.proc.peak_rss_mb()}


def trace_epilogue(run: Run, spark, tracer: Tracer, lake) -> None:
    """noop-sink isolation of one small batch: the scan alone, then scan
    plus parse, alternated three times; parse self time is the
    difference of their medians."""
    from pyspark_cdc.parse import parse_envelopes
    from pyspark_cdc.sources import file_batch

    d = run.batch_dir(1)
    for _ in range(3):
        with tracer.span("sources.scan"):
            file_batch(spark, d).write.format("noop").mode("overwrite").save()
        with tracer.span("parse.noop"):
            parse_envelopes(file_batch(spark, d)).write.format("noop").mode("overwrite").save()


WORKLOADS = {"serve_reads": serve_reads, "ingest_sync": ingest_sync}
