"""spark-submit entrypoint for the change-log EXPORTER: publish the
lake's net changes since the last run as a Debezium-shaped Kafka-record
parquet log (pyspark_cdc/export.py) — the outbox / downstream-topic /
lake-to-lake-replication deployment. Each run writes one chunk directory
named by its snapshot range and advances a checkpoint, so a cron
schedule produces a totally ordered series of re-ingestable chunks;
re-running after a crash overwrites the same chunk (deterministic name)
and is idempotent downstream anyway (the envelopes carry the original
LWW ordering tokens).

Usage:
    spark-submit --master local[8] --py-files /tmp/pyspark_cdc.zip \
        jobs/export_changes.py --table-dir /tmp/lake --out-dir /tmp/outbox \
        [--route X] [--full] [--from-snapshot N --to-snapshot M]

Modes:
  default            incremental: (last checkpoint, current] -> one chunk
  --full             bootstrap: (0, current] -> one chunk, then checkpoint
  --from/--to        explicit range, no checkpoint involvement
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pyspark-cdc change exporter")
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--out-dir", required=True,
                    help="chunk directories are created under this root")
    ap.add_argument("--route", help="per-tenant export")
    ap.add_argument("--full", action="store_true",
                    help="export since the beginning (bootstrap chunk)")
    ap.add_argument("--from-snapshot", type=int)
    ap.add_argument("--to-snapshot", type=int)
    ap.add_argument("--pin", action="store_true",
                    help="re-pin a named ref to each exported snapshot so "
                         "lake retention never outruns this outbox")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pyspark_cdc.export import export_changes_log
    from pyspark_cdc.session import apply_engine_conf
    from pyspark_cdc.sink import ParquetLake

    spark = SparkSession.builder.appName("pyspark-cdc-export").getOrCreate()
    apply_engine_conf(spark)
    lake = ParquetLake(spark, args.table_dir, mode="mor", compact_every=None)
    meta = lake.current_meta()
    if meta is None:
        print(json.dumps({"event": "error", "error": "empty lake"}))
        return 2

    os.makedirs(args.out_dir, exist_ok=True)
    # Route-scoped exports get their OWN checkpoint and chunk namespace:
    # with a shared one, `--route A` advancing the checkpoint would make
    # a later `--route B` run silently skip all of B's history before
    # that snapshot (and same-range chunks of different routes would
    # overwrite each other). One out-dir can therefore safely host a
    # global outbox and several per-tenant ones side by side.
    scope = f"route-{args.route}-" if args.route else ""
    ckpt = os.path.join(args.out_dir, f"_{scope}checkpoint"
                        if scope else "_checkpoint")

    explicit = args.from_snapshot is not None or args.to_snapshot is not None
    if explicit:
        frm = args.from_snapshot or 0
        to = args.to_snapshot if args.to_snapshot is not None else meta["id"]
    elif args.full:
        frm, to = 0, meta["id"]
    else:
        try:
            with open(ckpt) as f:
                frm = int(json.load(f)["exported_snapshot"])
        except FileNotFoundError:
            print(json.dumps({
                "event": "error",
                "error": "no checkpoint yet: run --full once to bootstrap",
            }))
            return 2
        to = meta["id"]

    if frm == to:
        print(json.dumps({"event": "up_to_date", "snapshot": to}))
        return 0

    chunk = os.path.join(args.out_dir, f"{scope}chunk-{frm:012d}-{to:012d}")
    t0 = time.monotonic()
    try:
        stats = export_changes_log(
            lake, frm, chunk, to_snapshot_id=to, route=args.route
        )
    except ValueError as e:
        # fell behind the retention horizon: fail loudly, rerun --full
        print(json.dumps({"event": "error", "error": str(e)}), flush=True)
        return 4
    if not explicit:
        tmp = os.path.join(args.out_dir, f".ckpt.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"exported_snapshot": to}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, ckpt)
        if args.pin:
            lake.pin_snapshot(
                f"outbox:{scope}"
                f"{os.path.basename(os.path.abspath(args.out_dir))}",
                to,
            )
    print(json.dumps({
        "event": "exported", **stats,
        "wall_sec": round(time.monotonic() - t0, 3),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
