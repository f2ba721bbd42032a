#!/usr/bin/env python3
"""Dump formatted physical plans for the engine's hot paths into PLANS.md
and assert the plan properties the design depends on:

* parquet scans carry PushedFilters + pruned ReadSchema,
* the hot path stays inside WholeStageCodegen (no row-at-a-time Python:
  no BatchEvalPython nodes; Arrow-batched pandas UDFs only where declared),
* the fused LWW+MERGE has exactly ONE exchange keyed on (repo, path),
* a lake read resolves through one max_by aggregate over only the
  delta-touched buckets, with no join,
* the broadcast dimension join actually broadcasts.

Run: python scripts/explain_plans.py  (writes PLANS.md, exits non-zero on
any property violation).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from pyspark_cdc.session import get_spark

    spark = get_spark(cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="plans_")
    try:
        return write_plans(spark, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def write_plans(spark, work: str) -> int:
    """Build every plan over a log and lakes under `work` and write
    PLANS.md; returns 1 if any asserted property fails, else 0."""
    from pyspark.sql import functions as F

    from pyspark_cdc import generate, manifest
    from pyspark_cdc.order import ORD_COLS
    from pyspark_cdc.parse import parse_envelopes
    from pyspark_cdc.queries import REGISTRY
    from pyspark_cdc.schemas import DOMAIN_COLS, KAFKA_SHAPE
    from pyspark_cdc.sink import (BUCKET_COL, ROUTE_COL, ParquetLake,
                                  bucket_expr, resolve_lww)

    log_dir = os.path.join(work, "log")
    generate.write_log(spark, log_dir, n_events=20_000, n_keys=2_000, n_files=8)

    sections: list[tuple[str, str, list[str]]] = []
    failures: list[str] = []

    def check(name: str, plan: str, must: list[str] = (), must_not: list[str] = ()):
        notes = []
        for token in must:
            ok = token in plan
            notes.append(f"{'OK ' if ok else 'FAIL'} contains `{token}`")
            if not ok:
                failures.append(f"{name}: missing {token}")
        for token in must_not:
            ok = token not in plan
            notes.append(f"{'OK ' if ok else 'FAIL'} free of `{token}`")
            if not ok:
                failures.append(f"{name}: contains {token}")
        sections.append((name, plan, notes))

    # 1. parse stage
    raw = spark.read.schema(KAFKA_SHAPE).parquet(log_dir)
    parsed = parse_envelopes(raw)
    # from_json is CodegenFallback, so the parse Projects sit between
    # codegen'd spans; the properties that matter here: single scan, no
    # shuffle, no Python eval, each JSON scan appears exactly once.
    check(
        "parse_envelopes (P1-P10)",
        formatted(parsed),
        must=["codegen id :"],
        must_not=["BatchEvalPython", "Exchange"],
    )

    # 2. one-job MoR ingest (the streaming hot path): parse -> status-
    # partitioned delta write. ZERO exchanges: source tasks stream
    # straight into the writer (nothing consumes deltas per bucket, so
    # the batch is never shuffled at ingest; the per-key shuffle happens
    # once, at read/compaction, where it is amortized).
    plan = formatted(parsed)
    check(
        "MoR one-job ingest (parse -> status-partitioned delta write)",
        plan,
        must=["codegen id :"],
        must_not=["BatchEvalPython", "SortAggregate", "Window", "Exchange"],
    )

    # 3. fused LWW + MERGE aggregation (the per-key max_by the lake's read
    # and folds resolve LWW with — the one-key-shuffle claim)
    src = (
        parsed.filter(F.col("status") == "ok")
        .select(*DOMAIN_COLS, "effective_op", "extras", ROUTE_COL, *ORD_COLS)
        .withColumn(BUCKET_COL, bucket_expr(16))
    )
    merged = resolve_lww(src)
    plan = formatted(merged)
    n_exchanges = plan.count("hashpartitioning(repo")
    # The ordering tuple is packed into ONE binary scalar (order.packed_ord,
    # round 3) so the comparator is a single memcmp — but the aggregate
    # stays SortAggregate BY CONSTRUCTION: any built-in ordered-selection
    # aggregate that carries a row struct (max_by, max(struct)) has an
    # immutable UnsafeRow buffer, so no packing makes it a HashAggregate.
    # Measured at 2M rows / 200k keys (local[32], 3 runs): max_by(struct,
    # struct) 0.39-0.49s, max_by(struct, packed binary) 0.40-0.49s,
    # max(struct(packed,...)) 0.44-0.46s — all equal within noise — while
    # the two-phase formulation that DOES get a HashAggregate (per-key
    # max(packed) + shuffle-hash join back) costs 1.18-1.29s (~2.5x):
    # it re-shuffles the full rows a second time. The partial phase before
    # the exchange (map-side combine = the hot-key guarantee) is the
    # property that matters, and it is asserted below.
    check(
        "fused LWW+MERGE aggregation",
        plan,
        must=["partial_max_by", "SortAggregate"],
        must_not=["BatchEvalPython", "Window"],
    )
    if n_exchanges != 1:
        failures.append(f"fused merge: {n_exchanges} hash exchanges, want exactly 1")
    sections[-1][2].append(
        f"{'OK ' if n_exchanges == 1 else 'FAIL'} exactly one hash exchange "
        f"(found {n_exchanges})"
    )

    # 4. filter pushdown + column pruning on the lake read path (a lake
    # folded into its base after the batch: the plan is the base scan)
    lake = ParquetLake(spark, os.path.join(work, "lake"), n_buckets=16,
                       compact_every=1, major_every=1)
    final = lake_read_plan_df(lake, parsed)
    check(
        "lake point-lookup (pushdown + pruning)",
        formatted(final),
        must=["PushedFilters: [IsNotNull(repo)", "ReadSchema"],
        must_not=["BatchEvalPython"],
    )

    # 4b. MoR read path: flatten parsed deltas + per-key LWW resolve —
    # the status=ok partition filter must prune the dead-letter dirs at
    # the source, and the resolve is the same single-key-shuffle agg.
    mor = ParquetLake(spark, os.path.join(work, "mor"), n_buckets=16, mode="mor")
    mor.merge_parsed(parsed, 0)
    plan = formatted(mor.read())
    check(
        "MoR read (delta flatten + LWW resolve)",
        plan,
        must=["partial_max_by", "PartitionFilters"],
        must_not=["BatchEvalPython", "Window"],
    )

    # 4b2. MoR STEADY-STATE read: compacted base + small delta => ONE LWW
    # aggregate over the delta-touched base buckets and the delta rows
    # (the Union under the aggregate); base buckets no delta touches
    # union in as a plain scan. No join anywhere: the touched base rows
    # shuffle into the aggregate instead of being probed, so the exchange
    # is O(touched base + delta), not O(table).
    mor2 = ParquetLake(
        spark, os.path.join(work, "mor2"), n_buckets=16, mode="mor",
        compact_every=1,
    )
    mor2.merge_parsed(parsed, 0)  # compacts into a base
    mor2.compact_every = 100
    small = generate.bulk_events_df(spark, 500, n_keys=100, seed=5)
    mor2.merge_parsed(parse_envelopes(small), 1)
    plan = formatted(mor2.read())
    check(
        "MoR steady-state read (one LWW aggregate, no join)",
        plan,
        must=["partial_max_by", "Union"],
        must_not=["Join", "BatchEvalPython", "Window"],
    )

    # 4b3. SUBSET steady-state read: when the outstanding deltas' manifest
    # bucket lists cover only part of the base, the aggregate reads ONLY
    # those buckets; the untouched majority of the base unions in beside
    # it — pruned at the FILE level (those buckets' files never enter the
    # aggregate's scans), not as a row filter. File-level proof from the
    # physical plan's scans in the note.
    mor3 = ParquetLake(
        spark, os.path.join(work, "mor3"), n_buckets=16, mode="mor",
        compact_every=1,
    )
    mor3.merge_parsed(parsed, 0)  # compacts into a base
    mor3.compact_every = 100
    key_t = F.from_json(F.col("key"), "repo string, path string")
    conf = generate.bulk_events_df(spark, 2_000, n_keys=2_000, seed=9).where(
        F.pmod(F.xxhash64(key_t["repo"], key_t["path"]), F.lit(16)) < 2
    )
    mor3.merge_parsed(parse_envelopes(conf), 1)
    meta3 = mor3.current_meta()
    touched3 = manifest.touched_buckets(meta3)
    read3 = mor3.read()
    plan = formatted(read3)
    check(
        "MoR SUBSET steady-state read (aggregate over delta-touched buckets only)",
        plan,
        must=["partial_max_by", "Union"],
        must_not=["Join", "BatchEvalPython", "Window"],
    )
    n_aggs = plan.count("partial_max_by")
    sections[-1][2].append(
        f"{'OK ' if n_aggs == 1 else 'FAIL'} exactly one max_by aggregate "
        f"(found {n_aggs})"
    )
    if n_aggs != 1:
        failures.append(f"subset read: {n_aggs} max_by aggregates, want 1")

    def _bkts(files):
        return {f.split("__bucket=", 1)[1].split("/", 1)[0] for f in files
                if "__bucket=" in f}

    scans3 = scan_files(read3)
    tb, ub = _bkts(scans3[True]), _bkts(scans3[False])
    split_ok = (tb == {str(b) for b in touched3} and tb.isdisjoint(ub)
                and tb | ub == set(meta3["buckets"]))
    sections[-1][2].append(
        f"{'OK ' if split_ok else 'FAIL'} file-level base split: aggregate "
        f"branch lists touched buckets {sorted(tb, key=int)} only; "
        f"pass-through branch holds the {len(ub)} others, disjoint"
    )
    if not split_ok:
        failures.append(
            "subset read: base file split does not match touched buckets"
        )

    # 4c. tenant-pruned read (Q11) on the steady-state lake (compacted
    # base + outstanding delta): the route predicate must land in the
    # BASE scan's PartitionFilters (directory pruning over the
    # bucket/route layout). Deltas carry route as a DATA column by design
    # (round 4: route dirs in deltas cost the ingest ~16%; manifest
    # per-delta route lists skip whole deltas upstream, and the remaining
    # delta scan is compact_every-bounded), so the delta side shows route
    # in PushedFilters instead.
    plan = formatted(mor2.read(route=generate.TOPICS[0]))
    check(
        "tenant-pruned read (route partition pruning on the base)",
        plan,
        must=["PartitionFilters"],
        must_not=["BatchEvalPython"],
    )
    route_pruned = any(
        "PartitionFilters" in ln and "route" in ln for ln in plan.splitlines()
    )
    if not route_pruned:
        failures.append("tenant read: route not in any base PartitionFilters clause")
    sections[-1][2].append(
        f"{'OK ' if route_pruned else 'FAIL'} route predicate inside the base scan's PartitionFilters"
    )
    route_pushed = any(
        "PushedFilters" in ln and "route" in ln for ln in plan.splitlines()
    )
    sections[-1][2].append(
        f"{'OK ' if route_pushed else 'FAIL'} route predicate pushed to the delta scan (data-column PushedFilters)"
    )
    if not route_pushed:
        failures.append("tenant read: route not pushed down on the delta scan")

    # 4c2. route-pruned touched union (round 5): the read's touched-bucket
    # set is per-tenant, so when every outstanding delta belongs to OTHER
    # tenants, a tenant read degrades to a pure pruned base scan — no
    # join and no aggregate in the plan at all — while a tenant whose own
    # backlog is outstanding resolves it through the one aggregate.
    mor4 = ParquetLake(
        spark, os.path.join(work, "mor4"), n_buckets=16, mode="mor",
        compact_every=1,
    )
    mor4.merge_parsed(parsed, 0)  # compacts into a route-partitioned base
    mor4.compact_every = 100
    only_a = generate.bulk_events_df(spark, 2_000, n_keys=2_000, seed=11).where(
        F.col("topic") == generate.TOPICS[0]
    )
    mor4.merge_parsed(parse_envelopes(only_a), 1)
    check(
        "tenant read, backlog all other tenants' (pruned base scan)",
        formatted(mor4.read(route=generate.TOPICS[1])),
        must=["PartitionFilters"],
        must_not=["Join", "max_by", "BatchEvalPython"],
    )
    check(
        "tenant read, own backlog outstanding (one aggregate, own buckets only)",
        formatted(mor4.read(route=generate.TOPICS[0])),
        must=["partial_max_by", "PartitionFilters"],
        must_not=["Join", "BatchEvalPython"],
    )

    # 4d. primary-key point lookup (round 5): only the key's bucket dir is
    # listed on the base side (file-level proof below) and the key
    # equality reaches the parquet scan as PushedFilters, so row groups
    # inside the bucket skip on footer stats too.
    some = mor4.read().select("repo", "path").first()
    looked = mor4.lookup(some["repo"], some["path"])
    plan = formatted(looked)
    check(
        "primary-key point lookup (one bucket + PushedFilters)",
        plan,
        must=["PushedFilters"],
        must_not=["SortMergeJoin", "BatchEvalPython", "Window"],
    )
    # EVERY scan's PushedFilters must carry the key equality (the plan
    # holds a base scan AND a delta scan; an any() over lines would let a
    # base-side pushdown regression hide behind the delta scan's line)
    pf_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    key_pushed = bool(pf_lines) and all(
        "EqualTo(repo," in ln for ln in pf_lines
    )
    sections[-1][2].append(
        f"{'OK ' if key_pushed else 'FAIL'} key equality inside every "
        f"scan's PushedFilters ({len(pf_lines)} scans)"
    )
    if not key_pushed:
        failures.append("lookup: key predicate not pushed to every scan")
    # base-file identification goes through the manifest's bucket paths:
    # flat deltas are also partitioned by __bucket, so a bare
    # "__bucket=" path match would miscount delta files as base buckets
    meta4 = mor4.current_meta()
    base_dirs = {b: "/" + rel + "/" for b, rel in meta4["buckets"].items()}

    def base_buckets_listed(df) -> set:
        files = df.inputFiles()
        return {
            b for b, prefix in base_dirs.items()
            if any(prefix in f for f in files)
        }

    lb = mor4.key_bucket(some["repo"], some["path"])
    lk_dirs = base_buckets_listed(looked)
    one_bucket = lk_dirs <= {str(lb)}
    sections[-1][2].append(
        f"{'OK ' if one_bucket else 'FAIL'} base files from bucket {lb} only "
        f"(saw {sorted(lk_dirs)})"
    )
    if not one_bucket:
        failures.append("lookup: base scan lists buckets beyond the key's")

    # 4e. batched lookups. Up to LOOKUP_PREDICATE_MAX keys the key match
    # is one OR-of-conjunctions predicate that reaches every scan's
    # PushedFilters; above it the key list broadcasts into a left-semi
    # join applied to every scan BELOW the LWW aggregate (never a shuffle
    # of the key list, never a resolve of rows no key asked for), and the
    # base side still lists only the union of the requested keys' bucket
    # dirs.
    live = [(r["repo"], r["path"])
            for r in mor4.read().select("repo", "path").limit(100).collect()]
    few = mor4.lookup_many(live[:16])
    plan = formatted(few)
    check(
        "batched key lookup, predicate strategy (16 keys, PushedFilters)",
        plan,
        must=["PushedFilters", "partial_max_by"],
        must_not=["Join", "BatchEvalPython"],
    )
    pf_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    key_pushed = bool(pf_lines) and all(
        "EqualTo(repo," in ln for ln in pf_lines
    )
    sections[-1][2].append(
        f"{'OK ' if key_pushed else 'FAIL'} key predicate inside every "
        f"scan's PushedFilters ({len(pf_lines)} scans)"
    )
    if not key_pushed:
        failures.append("lookup_many: key predicate not pushed to every scan")

    assert len(live) > ParquetLake.LOOKUP_PREDICATE_MAX
    batched = mor4.lookup_many(live)
    check(
        f"batched key lookup, join strategy ({len(live)} keys, broadcast "
        "semi-join below the aggregate, key buckets only)",
        formatted(batched),
        must=["BroadcastHashJoin", "LeftSemi", "partial_max_by"],
        must_not=["SortMergeJoin", "BatchEvalPython"],
    )
    nodes = [(n.nodeName(), anc) for n, anc in plan_nodes(batched)]
    semi_below = (
        any(n == "BroadcastHashJoin" and any("Aggregate" in a for a in anc)
            for n, anc in nodes)
        and not any("Aggregate" in n and any("Join" in a for a in anc)
                    for n, anc in nodes)
    )
    sections[-1][2].append(
        f"{'OK ' if semi_below else 'FAIL'} the semi-join sits below the "
        "aggregate, and no aggregate below a join"
    )
    if not semi_below:
        failures.append("lookup_many: key semi-join not below the aggregate")
    want_dirs = {str(b) for b in mor4.key_buckets(live).values()}
    got_dirs = base_buckets_listed(batched)
    subset = got_dirs <= want_dirs
    sections[-1][2].append(
        f"{'OK ' if subset else 'FAIL'} base files from the {len(want_dirs)} "
        f"key buckets only (saw {sorted(got_dirs, key=int)})"
    )
    if not subset:
        failures.append("lookup_many: base scan lists buckets beyond the keys'")

    # 4f. rebucket fold (round 5, bucket-count evolution): the whole-table
    # rewrite runs the fold step every fold runs (ParquetLake._fold_resolve
    # over _fold_input, as rebucket() calls it), clustered on the NEW
    # modulus — exactly one hash exchange, keyed by the new bucket
    # expression, no Python, no window. The notes count the same step's
    # exchanges as mor4's minor and subset-major folds would run it.
    meta4b = mor4.current_meta()
    extra4 = list(meta4b["extra_columns"])
    touched4 = manifest.touched_buckets(meta4b)
    folds = [
        ("rebucket", mor4._fold_resolve(
            mor4._fold_input(meta4b, extra4, None),
            48, 48, mor4.tombstone_horizon_lsn)),
        ("minor", mor4._fold_resolve(
            mor4._read_deltas(meta4b["deltas"], extra4),
            mor4.n_buckets, max(len(touched4), 1), None)),
        ("major", mor4._fold_resolve(
            mor4._fold_input(meta4b, extra4, touched4),
            mor4.n_buckets, max(len(touched4), 1),
            mor4.tombstone_horizon_lsn)),
    ]
    check(
        "rebucket fold (one exchange on the NEW modulus)",
        formatted(folds[0][1]),
        must=["partial_max_by"],
        must_not=["BatchEvalPython", "Window", "SortMergeJoin"],
    )
    for fold_name, fold_df in folds:
        n_ex = formatted(fold_df).count(f"hashpartitioning({BUCKET_COL}")
        sections[-1][2].append(
            f"{'OK ' if n_ex == 1 else 'FAIL'} {fold_name} fold: exactly one "
            f"hash exchange on the bucket column (found {n_ex})"
        )
        if n_ex != 1:
            failures.append(
                f"{fold_name} fold: {n_ex} bucket-keyed exchanges, want exactly 1"
            )

    # 4g. incremental change read (round 5, CDF): read_changes(A, B) must
    # touch ONLY the delta files appended in the range plus the
    # range-touched base buckets of the FROM snapshot — never the
    # untouched base — and classify with a broadcast join (small ranges).
    # mor3's history: batch 0 compacted into the base (snapshot A =
    # meta3["parent"]), batch 1 appended a bucket-confined delta (B).
    a_id, b_id = meta3["parent"], meta3["id"]
    changes_df = mor3.read_changes(a_id, b_id)
    plan = formatted(changes_df)
    check(
        "incremental change read (range deltas + touched FROM-buckets only)",
        plan,
        must=["BroadcastHashJoin", "LeftSemi", "partial_max_by"],
        must_not=["SortMergeJoin", "BatchEvalPython", "Window"],
    )
    delta_rel = meta3["deltas"][0]["path"]
    from_meta_g = mor3.snapshot_meta(a_id)
    touched_dirs = {
        "/" + rel + "/"
        for b, rel in from_meta_g["buckets"].items()
        if int(b) in {int(x) for x in touched3}
    }
    other_dirs = {
        "/" + rel + "/"
        for b, rel in from_meta_g["buckets"].items()
        if int(b) not in {int(x) for x in touched3}
    }
    files_g = changes_df.inputFiles()
    has_delta = any("/" + delta_rel + "/" in f for f in files_g)
    no_untouched = not any(d in f for f in files_g for d in other_dirs)
    in_touched = all(
        ("/" + delta_rel + "/" in f) or any(d in f for d in touched_dirs)
        for f in files_g
    )
    ok_g = has_delta and no_untouched and in_touched
    sections[-1][2].append(
        f"{'OK ' if ok_g else 'FAIL'} file list = range delta + "
        f"{len(touched_dirs)} touched FROM-buckets; "
        f"{len(other_dirs)} untouched buckets unlisted "
        f"({len(files_g)} files total)"
    )
    if not ok_g:
        failures.append(
            "read_changes: file list strays outside range deltas + "
            "touched FROM-snapshot buckets"
        )

    # 4h. migrating-mode feed (route_stable_keys=False): arrival and
    # departure rows are emitted in ONE pass — a Generate (explode of the
    # two row structs) over the single classification join. A union of
    # two filtered branches would duplicate the whole range-scan + join
    # subtree (Catalyst shares no subplans across union branches), so the
    # audit pins: explode present, NO Union, and the same number of
    # parquet scans as the route-stable plan.
    mor3_mig = ParquetLake(
        spark, os.path.join(work, "mor3"), n_buckets=16, mode="mor",
        compact_every=100, route_stable_keys=False,
    )
    mig_df = mor3_mig.read_changes(a_id, b_id)
    mig_plan = formatted(mig_df)
    check(
        "migrating-mode change feed (single-pass departures)",
        mig_plan,
        must=["Generate", "explode", "BroadcastHashJoin"],
        must_not=["Union", "SortMergeJoin", "BatchEvalPython"],
    )
    n_scans_stable = plan.count("Scan parquet")
    n_scans_mig = mig_plan.count("Scan parquet")
    ok_scans = n_scans_mig == n_scans_stable
    sections[-1][2].append(
        f"{'OK ' if ok_scans else 'FAIL'} scan count matches route-stable "
        f"plan ({n_scans_mig} vs {n_scans_stable}) — no duplicated "
        "range-scan subtree"
    )
    if not ok_scans:
        failures.append(
            "migrating-mode read_changes duplicates parquet scans vs "
            "the route-stable feed"
        )

    # 5. representative suite queries
    for qname, tokens_must, tokens_not in [
        # AQE plans print codegen ids only at execution; assert structure.
        ("q_tpch_q1", ["PushedFilters", "partial_sum", "HashAggregate"], ["BatchEvalPython"]),
        ("q_join_rollup", ["BroadcastHashJoin"], ["SortMergeJoin", "BatchEvalPython"]),
        # long minhashes => primitive agg buffers => HashAggregate, and no
        # sort-based fallback anywhere in the pipeline
        ("dedup_minhash_lsh", ["HashAggregate"], ["BatchEvalPython", "SortAggregate"]),
        ("ann_bruteforce_topk", [], ["BatchEvalPython"]),
        # multi-table multi-probe LSH stays a (table, bucket) equi-join
        ("ann_lsh_topk", ["BroadcastHashJoin"], ["CartesianProduct",
                                                 "BroadcastNestedLoopJoin",
                                                 "BatchEvalPython"]),
        # pagination compiles to a partial top-K, not a global window sort
        ("q7_sort_paginate", ["TakeOrderedAndProject"], ["BatchEvalPython"]),
        # per-group top-k: the rank filter pushes into WindowGroupLimit
        # (partial per-partition top-k BEFORE the shuffle, Spark 3.5+) —
        # a hot group ships k rows per map task, not its whole history
        ("q_topk_per_group", ["WindowGroupLimit"], ["BatchEvalPython"]),
        # banded LSH: equi-join on the band, never a cartesian
        ("emb_neardup_pairs", [], ["CartesianProduct", "BroadcastNestedLoopJoin",
                                   "BatchEvalPython"]),
    ]:
        fn, _sql = REGISTRY[qname]
        check(qname, formatted(fn(spark, SF_DIR)), tokens_must, tokens_not)

    out = ["# PLANS — physical-plan evidence (generated by scripts/explain_plans.py)\n"]
    out.append(
        "Properties asserted: pushdown+pruning reach the scans, hot paths stay in\n"
        "WholeStageCodegen with no row-at-a-time Python (`BatchEvalPython`), the\n"
        "fused LWW+MERGE performs exactly one hash exchange on the merge key, and\n"
        "small dimension joins broadcast.\n"
    )
    for name, plan, notes in sections:
        out.append(f"\n## {name}\n")
        out.extend(f"- {n}" for n in notes)
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))

    print(f"PLANS.md written; {len(sections)} plans, {len(failures)} failures")
    for f_ in failures:
        print("FAIL:", f_)
    return 1 if failures else 0


def plan_nodes(df) -> list:
    """(JVM node, ancestor node names) for every node of df's physical
    plan as planned, before adaptive execution re-plans it."""
    out = []

    def walk(node, ancestors):
        out.append((node, ancestors))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), ancestors + [node.nodeName()])

    walk(df._jdf.queryExecution().sparkPlan(), [])
    return out


def scan_files(df) -> dict[bool, set[str]]:
    """{True: files of the parquet scans below an aggregate, False: the
    files of every other parquet scan} in df's physical plan."""
    out: dict[bool, set[str]] = {True: set(), False: set()}
    for node, ancestors in plan_nodes(df):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            in_agg = any("Aggregate" in a for a in ancestors)
            out[in_agg] |= set(node.relation().inputFiles())
    return out


def lake_read_plan_df(lake, parsed):
    """Materialize a tiny lake then build the Q13-style point lookup."""
    from pyspark.sql import functions as F

    lake.merge_parsed(parsed, 0)
    return (
        lake.read()
        .filter((F.col("repo") == "org1/proj") & F.col("path").startswith("src/"))
        .select("repo", "path", "commit")
    )


if __name__ == "__main__":
    sys.exit(main())
