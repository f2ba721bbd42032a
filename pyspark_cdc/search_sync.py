"""Downstream search-index sync — the lake-fed re-expression of the
reference's entire OUTPUT side. The reference holds one synchronous HTTP
call per change inside its consumer loop (sync.go:71,84,108:
Index(indexName).AddDocuments / DeleteDocument per event); here the lake
absorbs ingest at full speed and a DECOUPLED sync job ships the net
changes downstream on its own cadence:

    ingest --------> ParquetLake --------> SearchIndexSync
    (O(batch)/batch)        (read_changes: O(changes)/sync)

The simulated index is a SEGMENTED document store with Meilisearch's
PK-replace semantics (AddDocuments on an index with a primary key
replaces the whole document; DeleteDocument removes it): each sync
writes ONE parquet segment holding the range's net upserts and delete
tombstones stamped with a monotonically increasing sequence (the target
lake snapshot id), and index state resolves per key to the row with the
highest sequence — exactly a Lucene/LMDB segment view, and exactly the
shape a real connector would POST per batch. Swapping the segment write
for a foreachPartition HTTP POST is the production transport; everything
else (checkpointing, idempotency, bootstrap, net-change extraction) is
transport-independent and is what this module implements and tests.

Exactly-once effect without distributed transactions:

* Each sync targets a deterministic segment name derived from the lake
  snapshot it syncs to, written with mode=overwrite, and the checkpoint
  (last synced snapshot id) is committed AFTER the segment — crash
  anywhere and the re-run recomputes the same range and overwrites the
  same segment; readers ignore segments newer than the checkpoint, so a
  half-written orphan is invisible. At-least-once apply + idempotent
  PK-replace + read-side fencing = exactly-once observable state.
* The bootstrap (no checkpoint yet) ships the full lake state as
  inserts — the one O(table) sync, the reference's initial index build.
  Every later sync costs O(changes in range) via read_changes, so the
  downstream index tracks a 100 TB lake at the rate the DATA changes,
  not the rate of the table's size.

A sync must run at least once per `snapshot_retention` lake commits
(read_changes needs the intermediate manifests); a missed horizon fails
loudly and `resync()` rebuilds from a fresh bootstrap.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import KEY_COLS
from .sink import CHANGE_TYPE_COL, ROUTE_COL, ParquetLake, quoted

SEQ_COL = "__seq"
SEG_DELETED_COL = "__seg_deleted"
_SEG_RE = re.compile(r"^seg-(\d{12})(?:-[0-9a-f]+)?$")


class SearchIndexSync:
    """One downstream consumer of one lake (single sync process per
    index_dir — concurrent syncs of the same index would race the
    checkpoint; run it like jobs/maintain.py, cron --once or daemon)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        lake: ParquetLake,
        route: str | None = None,
        pin: bool = False,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.lake = lake
        # pin=True: after every successful sync, move a named ref
        # (sync:<index dirname>) to the synced snapshot so expire keeps
        # the manifest chain this consumer still needs — retention can
        # then never outrun a LIVE consumer (see sink.pin_snapshot); the
        # pin rides forward with each sync, holding only the consumer's
        # actual lag. Off by default: an abandoned pinned consumer holds
        # history until unpinned, which is an operational choice.
        self.pin = pin
        # route=X makes this a PER-TENANT consumer (the reference's
        # one-Meilisearch-index-per-collection shape): bootstrap and every
        # incremental read are route-pruned at the manifest/partition
        # level, so one tenant's sync never scans another tenant's data.
        self.route = route
        os.makedirs(index_dir, exist_ok=True)
        # test-only crash-injection point, fired between the segment
        # write and the checkpoint commit (the at-least-once window)
        self._pre_checkpoint_hook = None

    # ---------------- checkpoint ----------------

    def _ckpt_path(self) -> str:
        return os.path.join(self.index_dir, "_checkpoint")

    def last_synced(self) -> int | None:
        try:
            with open(self._ckpt_path()) as f:
                return int(json.load(f)["synced_snapshot"])
        except FileNotFoundError:
            return None

    def _commit_checkpoint(self, snapshot_id: int) -> None:
        tmp = os.path.join(self.index_dir, f".ckpt.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"synced_snapshot": snapshot_id}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._ckpt_path())

    # ---------------- segments ----------------

    @staticmethod
    def _seg_name(snapshot_id: int, suffix: str = "") -> str:
        return f"seg-{snapshot_id:012d}{suffix}"

    def _segments(self, upto: int | None) -> list[tuple[int, str]]:
        """(seq, path) of committed segments — read-side fencing: a
        segment past the checkpoint is an uncommitted orphan of a crashed
        sync and must stay invisible until its checkpoint lands."""
        out = []
        for name in os.listdir(self.index_dir):
            m = _SEG_RE.match(name)
            if not m:
                continue
            seq = int(m.group(1))
            if upto is not None and seq > upto:
                continue
            out.append((seq, os.path.join(self.index_dir, name)))
        return sorted(out)

    # ---------------- sync ----------------

    def sync_once(self) -> dict:
        """Ship the net changes since the last sync; returns a stats dict
        (status: bootstrapped | synced | up_to_date | empty_lake)."""
        from pyspark.sql import Observation

        meta = self.lake.current_meta()
        if meta is None:
            return {"status": "empty_lake"}
        to_id = int(meta["id"])
        frm = self.last_synced()
        if frm == to_id:
            return {"status": "up_to_date", "synced_snapshot": to_id}

        # Orphan sweep: ANY segment past the checkpoint is a crashed
        # sync's uncommitted leftover. Deleting it here (not merely
        # fencing it) matters because fencing alone stops protecting once
        # a LATER sync advances the checkpoint past the orphan's sequence:
        # a key inserted in the orphan's range and deleted before the
        # retry's target would then resurrect — the orphan's stale insert
        # becomes its only (and winning) row. The deterministic-name
        # overwrite only covers a retry of the SAME target snapshot; this
        # covers a lake that moved on between crash and retry.
        for seq, p in self._segments(None):
            if frm is None or seq > frm:
                shutil.rmtree(p, ignore_errors=True)

        if frm is None:
            # initial index build: full state as inserts (sync.go's cold
            # start is the same full-table pass, one document at a time)
            changes = self.lake.read(
                snapshot_id=to_id, route=self.route
            ).withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            status = "bootstrapped"
        else:
            changes = self.lake.read_changes(frm, to_id, route=self.route)
            status = "synced"

        seg = changes.select(
            *[F.col(quoted(c)) for c in changes.columns
              if c != CHANGE_TYPE_COL],
            (F.col(CHANGE_TYPE_COL) == "delete").alias(SEG_DELETED_COL),
            F.lit(to_id).cast("long").alias(SEQ_COL),
        )
        obs = Observation(f"sync_{to_id}")
        seg = seg.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col(SEG_DELETED_COL)).alias("n_deletes"),
        )
        out_dir = os.path.join(self.index_dir, self._seg_name(to_id))
        # deterministic name + overwrite => a crashed sync's re-run
        # replaces its own orphan; route partition dirs mirror the
        # per-tenant Meilisearch indexes (handler.go:34-44) so a
        # route-scoped state read prunes whole directories
        seg.write.partitionBy(ROUTE_COL).mode("overwrite").parquet(out_dir)
        got = ParquetLake._obs_get(obs, out_dir, n_rows=0, n_deletes=0)
        if got.get("n_rows") == 0:
            # nothing changed in the range: no segment to keep, but the
            # checkpoint still advances (the range is consumed)
            shutil.rmtree(out_dir, ignore_errors=True)

        if self._pre_checkpoint_hook is not None:
            self._pre_checkpoint_hook()
        self._commit_checkpoint(to_id)
        if self.pin:
            # after the checkpoint (crash between them leaves the pin at
            # the previous sync — the safe direction: it protects MORE)
            self.lake.pin_snapshot(self._pin_name(), to_id)
        return {
            "status": status, "from_snapshot": frm, "synced_snapshot": to_id,
            "n_rows": got.get("n_rows"), "n_deletes": got.get("n_deletes"),
        }

    def _pin_name(self) -> str:
        return f"sync:{os.path.basename(os.path.abspath(self.index_dir))}"

    def resync(self) -> dict:
        """Blow away the index and rebuild from a fresh bootstrap — the
        recovery path when the sync fell behind the lake's retention
        horizon (read_changes raised)."""
        for name in os.listdir(self.index_dir):
            p = os.path.join(self.index_dir, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        return self.sync_once()

    # ---------------- read side ----------------

    def state(self, route: str | None = None) -> DataFrame:
        """Current index state: per (key, route) — one document slot per
        index, Meilisearch's model (the same PK in two indexes is two
        documents) — the row with the highest segment sequence wins
        (PK-replace), delete tombstones mask and are then dropped.
        Per-route resolution is what makes a migrated key converge on a
        route_stable_keys=False lake: the departure tombstone masks the
        old route's document while the new route's upsert lands
        independently (per-key resolution would tie them at one sequence);
        on a stable-keys lake a key only ever has one route, so the
        grouping is identical. One scan over the committed segments;
        route=X prunes to that index's partition directories."""
        segs = self._segments(self.last_synced())
        if not segs:
            return (
                self.spark.createDataFrame(
                    [], "repo string, path string"
                )
            )
        win = self._resolve_segments(segs, route=route)
        return win.filter(
            ~F.coalesce(F.col(SEG_DELETED_COL), F.lit(False))
        ).drop(SEG_DELETED_COL, SEQ_COL)

    def _resolve_segments(
        self, segs: list[tuple[int, str]], route: str | None = None
    ) -> DataFrame:
        """Union the given segments and resolve per (key, route) by
        highest sequence — winners still carry their tombstone flag and
        original sequence (state() drops tombstones; vacuum() must keep
        them)."""
        parts = []
        for _, p in segs:
            df = self.spark.read.option("mergeSchema", "true").parquet(p)
            if route is not None:
                df = df.filter(F.col(ROUTE_COL) == route)
            parts.append(df)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        group = [*KEY_COLS, ROUTE_COL]
        non_key = [c for c in df.columns if c not in group]
        row = F.struct(*[F.col(quoted(c)) for c in non_key])
        return (
            df.groupBy(*group)
            .agg(F.max_by(row, F.col(SEQ_COL)).alias("_w"))
            .select(*group, "_w.*")
        )

    # ---------------- maintenance ----------------

    def vacuum(self) -> dict:
        """Merge all committed segments into one (the segment-merge half
        of a real search engine). The merged segment RETAINS delete
        tombstones: old segments are removed afterwards, and if a crash
        leaves any of them behind, a key's stale upsert in a surviving
        old segment must still lose to the tombstone (dropping tombstones
        here would resurrect deleted documents under exactly that crash).
        Each row keeps its ORIGINAL sequence, so the merge is invisible
        to the max-by resolution no matter which old segments remain."""
        upto = self.last_synced()
        segs = self._segments(upto)
        if len(segs) <= 1:
            return {"status": "noop", "segments": len(segs)}
        merged = self._resolve_segments(segs)
        # unique suffix: never collide with the live seg of the same seq
        out_dir = os.path.join(
            self.index_dir,
            self._seg_name(segs[-1][0], f"-{uuid.uuid4().hex[:8]}"),
        )
        merged.write.partitionBy(ROUTE_COL).mode("overwrite").parquet(out_dir)
        removed = 0
        for _, p in segs:
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
        return {"status": "vacuumed", "merged": removed,
                "segment": os.path.basename(out_dir)}
