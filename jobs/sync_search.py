"""spark-submit entrypoint for the DECOUPLED downstream search-index
sync: ship the lake's net changes to the (simulated) search index on a
cadence independent of ingest — the lake-fed re-expression of the
reference's consumer->Meilisearch push loop (sync.go:71,84,108), with
the per-event synchronous HTTP call replaced by one O(changes)
read_changes extraction per run (see pyspark_cdc/search_sync.py).

Run it like jobs/maintain.py: cron --once, or daemon mode with
--poll-sec. A sync must run at least once per `snapshot_retention` lake
commits; when it falls behind the horizon the run fails loudly and
--resync rebuilds the index from a fresh bootstrap.

Usage:
    cd /root/repo && zip -r /tmp/pyspark_cdc.zip pyspark_cdc
    spark-submit --master local[8] --py-files /tmp/pyspark_cdc.zip \
        jobs/sync_search.py --table-dir /tmp/lake --index-dir /tmp/index \
        [--once] [--poll-sec 5] [--max-runtime-sec 0] [--vacuum-every 8]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pyspark-cdc search-index sync")
    ap.add_argument("--table-dir", required=True, help="lake table directory")
    ap.add_argument("--index-dir", required=True,
                    help="downstream index directory")
    ap.add_argument("--route", help="per-tenant sync: ship only this "
                    "route's changes (manifest/partition-pruned)")
    ap.add_argument("--pin", action="store_true",
                    help="re-pin a named ref to each synced snapshot so "
                         "lake retention never outruns this consumer")
    ap.add_argument("--once", action="store_true",
                    help="sync at most once and exit (cron deployment)")
    ap.add_argument("--resync", action="store_true",
                    help="drop the index and rebuild from a full bootstrap")
    ap.add_argument("--poll-sec", type=float, default=5.0)
    ap.add_argument("--max-runtime-sec", type=float, default=0.0,
                    help="daemon mode: exit after this long (0 = forever)")
    ap.add_argument("--vacuum-every", type=int, default=0,
                    help="merge segments after every N syncs (0 = never)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pyspark_cdc.search_sync import SearchIndexSync
    from pyspark_cdc.session import apply_engine_conf
    from pyspark_cdc.sink import ParquetLake

    spark = SparkSession.builder.appName("pyspark-cdc-sync").getOrCreate()
    apply_engine_conf(spark)
    lake = ParquetLake(spark, args.table_dir, mode="mor", compact_every=None)
    sync = SearchIndexSync(spark, args.index_dir, lake, route=args.route,
                           pin=args.pin)

    if args.resync:
        t0 = time.monotonic()
        stats = sync.resync()
        print(json.dumps({
            "event": "resync", **stats,
            "wall_sec": round(time.monotonic() - t0, 3),
        }), flush=True)
        return 0

    t_start = time.monotonic()
    syncs = 0
    while True:
        t0 = time.monotonic()
        try:
            stats = sync.sync_once()
        except ValueError as e:
            # fell behind the retention horizon, or the lake rolled back
            # across this consumer's checkpoint: fail loudly — the
            # operator (or cron) reruns with --resync (the only safe
            # recovery in both cases: the incremental range is undefined)
            print(json.dumps({"event": "error", "error": str(e)}), flush=True)
            return 4
        wall = time.monotonic() - t0
        if stats["status"] in ("bootstrapped", "synced"):
            syncs += 1
            print(json.dumps({
                "event": "sync", **stats, "wall_sec": round(wall, 3),
            }), flush=True)
            if args.vacuum_every and syncs % args.vacuum_every == 0:
                print(json.dumps(
                    {"event": "vacuum", **sync.vacuum()}), flush=True)
        if args.once:
            break
        if (args.max_runtime_sec
                and time.monotonic() - t_start > args.max_runtime_sec):
            break
        if stats["status"] in ("up_to_date", "empty_lake"):
            # empty_lake must sleep too: the sync is routinely started
            # alongside ingest before the first commit lands, and a
            # no-sleep loop would busy-spin on current_meta at 100% CPU
            time.sleep(args.poll_sec)

    print(json.dumps({
        "event": "done", "syncs": syncs,
        "runtime_sec": round(time.monotonic() - t_start, 3),
        "synced_snapshot": sync.last_synced(),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
