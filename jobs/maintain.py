"""spark-submit entrypoint for the DECOUPLED maintenance process: fold
the lake's outstanding delta backlog from a process that is NOT the
ingest job (the Iceberg operational model; see ROUND5_NOTES.md §8 and
tests/test_occ.py for the concurrency contract).

Run the ingest job with --compact-every 0 (no inline folds) and this
job on its own cadence — commits race safely: a losing maintenance fold
aborts and leaves the backlog for the next run; a losing ingest commit
rebases. Both processes should share an --orphan-grace-sec comfortably
above the longest write job so snapshot expiry never sweeps a
fully-written but not-yet-committed data dir.

Usage:
    cd /root/repo && zip -r /tmp/pyspark_cdc.zip pyspark_cdc
    spark-submit --master local[8] --py-files /tmp/pyspark_cdc.zip \
        jobs/maintain.py --table-dir /tmp/lake [--once] \
        [--min-deltas 5] [--tier auto|minor|major] [--full] \
        [--poll-sec 5] [--max-runtime-sec 0]

Prints one JSON line per fold (tier, wall, backlog before/after) and a
final summary line. --once folds at most one backlog and exits — the
cron-style deployment; without it the job polls until --max-runtime-sec
(0 = forever, the daemon deployment).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def fold_aborted(before_meta: dict | None, after_meta: dict | None) -> bool:
    """Whether a compact_now call left the lake as it found it.

    Must not infer from backlog_after < backlog_before: concurrent ingest
    can append deltas FASTER than the fold consumed them, making a
    successful fold look aborted (undercounting folds and reading like an
    OCC livelock in the maintenance log). A committed fold either removes
    a delta entry it saw or repoints base buckets (a full major of a lake
    with no outstanding delta does only the latter); concurrent ingest
    only ADDS delta entries and never touches the bucket map — so "some
    pre-fold delta path disappeared, or the bucket map changed" detects
    success exactly, whatever the interleaving. (If a CONCURRENT
    compactor did that while ours lost the race, the backlog is folded
    either way — reporting success matches the observable table state.)"""
    def paths(meta):
        return {d["path"] for d in (meta or {}).get("deltas", [])}

    def buckets(meta):
        return (meta or {}).get("buckets", {})

    return (paths(before_meta) <= paths(after_meta)
            and buckets(before_meta) == buckets(after_meta))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pyspark-cdc maintenance job")
    ap.add_argument("--table-dir", required=True, help="lake table directory")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="only used when the table does not exist yet")
    ap.add_argument("--tier", choices=["auto", "minor", "major"],
                    default="auto", help="compaction tier policy")
    ap.add_argument("--full", action="store_true",
                    help="force full-table (non-subset) majors")
    ap.add_argument("--min-deltas", type=int, default=1,
                    help="fold only when the raw-delta backlog reaches N")
    ap.add_argument("--rebucket", type=int, metavar="NEW_N",
                    help="bucket-count evolution: rewrite the whole table "
                         "under NEW_N key-hash buckets (one atomic commit; "
                         "aborts on any concurrent commit — exit code 3 — "
                         "so cron can retry in a quiet window), then exit")
    ap.add_argument("--rollback-to", type=int, metavar="SNAPSHOT",
                    help="bad-batch recovery: roll the table back to this "
                         "retained snapshot (O(ms) forward metadata commit; "
                         "refuses any concurrent commit — exit code 3 — "
                         "retry in a quiet window), then exit")
    ap.add_argument("--once", action="store_true",
                    help="fold at most once and exit (cron deployment)")
    ap.add_argument("--poll-sec", type=float, default=5.0)
    ap.add_argument("--max-runtime-sec", type=float, default=0.0,
                    help="daemon mode: exit after this long (0 = forever)")
    ap.add_argument("--orphan-grace-sec", type=float, default=3600.0,
                    help="snapshot-expiry orphan grace; keep above the "
                         "ingest job's longest write")
    ap.add_argument("--major-every", type=int, default=4)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pyspark_cdc.session import apply_engine_conf
    from pyspark_cdc.manifest import raw_delta_count
    from pyspark_cdc.sink import ParquetLake

    spark = SparkSession.builder.appName("pyspark-cdc-maintain").getOrCreate()
    apply_engine_conf(spark)
    lake = ParquetLake(
        spark, args.table_dir, n_buckets=args.n_buckets, mode="mor",
        compact_every=None, major_every=args.major_every,
        orphan_grace_sec=args.orphan_grace_sec,
    )

    if args.rollback_to is not None:
        t0 = time.monotonic()
        new_meta = lake.rollback_to(args.rollback_to)
        print(json.dumps({
            "event": "rollback", "to_snapshot": args.rollback_to,
            "wall_sec": round(time.monotonic() - t0, 3),
            "snapshot": new_meta.get("id") if new_meta else None,
            "aborted": new_meta is None,
        }), flush=True)
        return 0 if new_meta is not None else 3

    if args.rebucket:
        t0 = time.monotonic()
        new_meta = lake.rebucket(args.rebucket)
        print(json.dumps({
            "event": "rebucket", "new_n_buckets": args.rebucket,
            "wall_sec": round(time.monotonic() - t0, 3),
            "snapshot": new_meta.get("id") if new_meta else None,
            "aborted": new_meta is None,
        }), flush=True)
        return 0 if new_meta is not None else 3

    t_start = time.monotonic()
    folds = 0
    while True:
        meta = lake.current_meta()
        backlog = raw_delta_count(meta) if meta is not None else 0
        if backlog >= args.min_deltas:
            t0 = time.monotonic()
            new_meta = lake.compact_now(tier=args.tier, full=args.full)
            wall = time.monotonic() - t0
            after = raw_delta_count(new_meta)
            aborted = fold_aborted(meta, new_meta)
            folds += 0 if aborted else 1
            print(json.dumps({
                "event": "fold", "tier": args.tier,
                "backlog_before": backlog, "backlog_after": after,
                "wall_sec": round(wall, 3),
                "snapshot": new_meta.get("id"),
                "aborted": aborted,
            }), flush=True)
            if args.once:
                break
            continue  # re-check immediately: ingest may already be ahead
        if args.once:
            break
        if (args.max_runtime_sec
                and time.monotonic() - t_start > args.max_runtime_sec):
            break
        time.sleep(args.poll_sec)

    meta = lake.current_meta()
    print(json.dumps({
        "event": "done", "folds": folds,
        "runtime_sec": round(time.monotonic() - t_start, 3),
        "backlog": raw_delta_count(meta) if meta else 0,
        "snapshot": meta.get("id") if meta else None,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
