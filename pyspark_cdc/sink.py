"""Exactly-once MERGE sink: a bucketed merge-on-read parquet lake with an
Iceberg-style snapshot manifest.

Why not Iceberg itself: the sandbox has no Iceberg runtime jar (SURVEY.md
section 7.3 risk #1), so this module implements the same contract —
`MERGE INTO sink ON (repo,path) WHEN MATCHED [AND op='d'] DELETE/UPDATE
WHEN NOT MATCHED INSERT` (SURVEY.md S5/S6/J2/J3) — on plain parquet:

* Merge-on-read ingest: a batch appends its parsed rows as one DELTA —
  no table read, no sort, O(batch) per micro-batch (a 100 TB table
  cannot be rewritten per micro-batch). LWW resolves at read (base
  buckets no outstanding delta touches stream through as a plain scan;
  the touched buckets and the deltas go through one per-key aggregate)
  and at TIERED compaction: every `compact_every` batches a MINOR fold
  merges the deltas among themselves (O(recent data), no base read), and
  every `major_every`-th compaction folds into the base — the Iceberg v2
  / Hudi / Paimon MoR + LSM-tiering design.
* The base is hash-bucketed on the merge key: bucket =
  pmod(xxhash64(repo, path), n_buckets). A major fold reads and
  rewrites ONLY the buckets its deltas touch (copy-on-write at bucket
  granularity, like Iceberg with a bucket partition transform);
  untouched buckets are carried forward by manifest reference. At
  100 TB you'd raise n_buckets so a bucket is a few GB — fold cost
  scales with the backlog's key spread, not table size.
* Each commit writes an immutable snapshot manifest and atomically swaps
  the `current` pointer (os.replace). The manifest's shape, the one
  transition that derives each commit's manifest from its parent
  (manifest.child) and the queries over it live in manifest.py; this
  module adds the file I/O, the commit lock and the optimistic commit
  loop. A crash mid-merge leaves the old snapshot current; the
  streaming retry of the same epoch is detected via the applied-batch
  watermark and becomes a no-op => idempotent foreachBatch,
  exactly-once final state (SURVEY.md T1). Every manifest is read
  through one loader (ParquetLake._load_manifest) that refuses any
  other shape.
* Deletes are retained as tombstone rows (__deleted=true, with their
  lsn), so a late-replayed OLDER upsert for a deleted key loses the LWW
  merge against the tombstone — strictly safer than the reference, which
  accepts cross-partition reorder loss (SURVEY.md T3).
* Additive schema evolution: extras-map keys observed in a batch become
  real string columns, recorded in the manifest's column list (north
  rule: new envelope columns auto-propagate to the sink schema). Every
  read is planned from the manifest — an explicit schema built from that
  list, no footer or schema-inference job — so a column an older file
  lacks reads as null.

The MERGE itself is one per-key max_by aggregate over union(base rows,
delta rows) — at read time and in every fold (resolve_lww,
resolve_lww_clustered) — so where LWW resolves cannot change the winner.

Reference parity: upsert = Meilisearch AddDocuments PK-replace
(sync.go:84), delete = DeleteDocument (sync.go:71,108-113), delete of a
missing key is a no-op, revive-after-delete re-inserts
(document_repository.py:42).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import manifest
from .manifest import BUCKET_COL
from .order import ORD_COLS, PACKED_ORD_SQL, packed_ord
from .schemas import (DELETED_COL, DOMAIN_COLS, INTERNAL_COLS, KEY_COLS,
                      LSN_COL, OFFSET_COL, TS_COL, TX_COL)
from .signatures import SIG_COLS, fill_band_columns

# Routing identity (SURVEY.md P8/Q11): the per-record index identity of
# the reference ({app_name}_{collection}, sync.go:176-196) materialized
# as a sink PARTITION column; functionally determined by the key's repo
# (one route per source table/topic), so carrying it as a value through
# the key-wise MERGE is equivalent to keying by it. The physical layout
# is bucket/route (base) and status-only (parsed deltas; route stays a
# data column there and manifests record each delta's route list), so a
# tenant-scoped read prunes whole route directories — the analog of the
# reference's per-tenant Meilisearch index (handler.go:34-44): a
# `WHERE route = X` query must not scan other tenants' data. Route is
# expected to be LOW-cardinality (one per source table/topic/tenant
# collection); key-hash bucketing inside each route keeps file sizes
# uniform at 100 TB.
ROUTE_COL = "route"
INTERNAL = INTERNAL_COLS
# Extras keys that may NEVER be promoted to real columns: they collide
# with the lake's own column namespace. parse already keeps DOMAIN_COLS
# and `route` out of extras, but the sink defends itself regardless —
# a source field literally named "__deleted" (the Debezium
# ExtractNewRecordState SMT convention) or "__lsn" must not shadow the
# engine's internal columns: promoting it would make every subsequent
# merge/read raise AMBIGUOUS_REFERENCE, bricking the table until the
# manifest is hand-edited. Such keys stay in the extras map (parsed
# deltas keep the raw map) but are not materialized.
RESERVED_COLS = frozenset(
    [*INTERNAL_COLS, BUCKET_COL, ROUTE_COL, *DOMAIN_COLS, *SIG_COLS]
)
# snapshots kept by expire_snapshots (time-travel horizon)
SNAPSHOT_RETENTION = 8
# change-type column emitted by read_changes (Delta Lake CDF's
# _change_type naming, net-effect variant)
CHANGE_TYPE_COL = "_change_type"

# ---- optimistic concurrency (decoupled maintenance vs ingest) ----
# The commit lock is held ONLY for the O(ms) manifest check+write+swap,
# never across a Spark job, so concurrent writers (the streaming ingest
# job and a separate compaction/maintenance process — the Iceberg
# operational model) serialize at metadata speed while their data jobs
# overlap freely. Conflicts are resolved by REBASE (re-expressing the
# commit's intent on the freshest snapshot) or, for folds whose inputs
# were concurrently consumed, by aborting the fold (its output dir is
# dropped; correctness is untouched because the table never referenced
# it).
COMMIT_LOCK_TIMEOUT_SEC = 30.0
# a holder that died between acquire and release leaves the lock file
# behind; commits are O(ms), so a lock this old is presumed dead
COMMIT_LOCK_STALE_SEC = 30.0
OCC_MAX_RETRIES = 5


class CommitConflict(Exception):
    """The table advanced past the snapshot this manifest was built on
    (another writer committed first). Carries the fresh current manifest
    so the caller can rebase without re-reading under the lock."""

    def __init__(self, fresh_meta: dict, attempted: dict):
        self.fresh_meta = fresh_meta
        super().__init__(
            f"snapshot {attempted.get('id')} was built on parent "
            f"{attempted.get('parent')} but the current snapshot is "
            f"{fresh_meta.get('id')}"
        )

# dead-letter taxonomy (status partition values of a parsed delta)
DLQ_STATUSES = ("ok", "tombstone", "malformed", "unknown_op",
                "bad_payload", "missing_key", "missing_route")

# The columns a lake read takes from a parsed delta, typed as
# parse.parse_envelopes writes them. Reads name each delta's status=ok
# leaf dir, so `status` (the write's partition column) is not a column
# here. A static read schema: no per-delta schema-inference job.
PARSED_DELTA_SCHEMA = T.StructType([
    T.StructField("effective_op", T.StringType()),
    *[T.StructField(c, T.StringType()) for c in DOMAIN_COLS],
    T.StructField("extras", T.MapType(T.StringType(), T.StringType())),
    T.StructField(ROUTE_COL, T.StringType()),
    *[T.StructField(c, T.LongType()) for c in ORD_COLS],
])

_MERGE_OBS_AGGS: dict[int, list] = {}


def _merge_obs_aggs(n_buckets: int) -> list:
    """Observation aggregates riding the merge_parsed write — record count,
    per-status counts, observed open-world keys (schema evolution),
    merge-relevant routes for manifest-level tenant pruning, and the set
    of key-hash BUCKETS the batch's ok rows land in (so a later MAJOR
    compaction folds ONLY those buckets — the manifest knows the touched
    set without any delta re-scan). Built ONCE per (process, n_buckets):
    Column trees are immutable unresolved expressions, and rebuilding
    them each micro-batch is pure py4j overhead inside the
    sustained-rate wall."""
    if n_buckets not in _MERGE_OBS_AGGS:
        _MERGE_OBS_AGGS[n_buckets] = [
            F.count(F.lit(1)).alias("n_records"),
            F.collect_set(F.map_keys("extras")).alias("extras_keysets"),
            F.collect_set(
                F.when(F.col("status") == "ok", F.col(ROUTE_COL))
            ).alias("ok_routes"),
            F.collect_set(
                F.when(F.col("status") == "ok", bucket_expr(n_buckets))
            ).alias("ok_buckets"),
            *[
                F.count_if(F.col("status") == s).alias(f"n_{s}")
                for s in DLQ_STATUSES
            ],
        ]
    return _MERGE_OBS_AGGS[n_buckets]


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(*KEY_COLS), F.lit(n_buckets))


_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of `data` (unsigned 64-bit seed and result) — the algorithm
    behind Spark's xxhash64, which hashes a string as its UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v[j] = _xxh64_round(v[j], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for lane in v:
            h = ((h ^ _xxh64_round(0, lane)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def key_bucket_of(key: tuple[str, str], n_buckets: int) -> int:
    """bucket_expr(n_buckets) of one primary key, on the driver: Spark's
    xxhash64 chains the key columns through the seed (42 first; a null
    column leaves the hash unchanged), and pmod of the signed result.
    Key columns are strings: any other element raises TypeError."""
    h = 42
    for v in key:
        if isinstance(v, str):
            h = _xxh64(v.encode("utf-8"), h)
        elif v is not None:
            raise TypeError(
                f"key {key!r}: key columns are strings (or None), got "
                f"{type(v).__name__} {v!r}"
            )
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def quoted(name: str) -> str:
    """A column name as a SQL identifier. Manifest column names come from
    source extras keys, so `a.b` or a name holding a backtick must stay
    one name: every SQL text or F.col that names a lake column by a name
    from the data goes through here."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str | None) -> str:
    """A SQL string literal of `value` (NULL for None) under Spark's
    default backslash escapes: any quote, backslash, newline or non-ASCII
    text reads back as itself."""
    if value is None:
        return "NULL"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@functools.lru_cache(maxsize=64)
def _delta_projection(extra_cols: tuple[str, ...], signed: bool) -> tuple:
    """The select list that turns parsed ok rows into the flat row shape
    (bucket column excluded): effective_op becomes the tombstone flag,
    extras flatten by the manifest's column list (complete — every delta
    recorded its observed keys at commit), deleted rows lose their
    payload, and signature columns (signed tables) read null — the
    post-LWW fill_band_columns signs only the versions that WIN a fold or
    read, so a raw backlog's losing versions never pay the shingle cost.
    SQL text, built once per column list."""
    dead = "effective_op = 'd'"

    def payload(expr: str, name: str) -> str:
        return f"CASE WHEN {dead} THEN NULL ELSE {expr} END AS {quoted(name)}"

    return (
        *[quoted(c) for c in KEY_COLS],
        *[payload(quoted(c), c) for c in DOMAIN_COLS if c not in KEY_COLS],
        quoted(ROUTE_COL),
        *[payload(f"element_at(extras, {_sql_str(k)})", k) for k in extra_cols],
        *[quoted(c) for c in ORD_COLS],
        f"{dead} AS {quoted(DELETED_COL)}",
        *[f"CAST(NULL AS STRING) AS {quoted(c)}"
          for c in (SIG_COLS if signed else [])],
    )


@functools.lru_cache(maxsize=64)
def _lww_winner(cols: tuple[str, ...]) -> str:
    """max_by of the row struct of `cols` by the packed ordering scalar,
    as SQL text aliased `_w`, built once per column list."""
    row = ", ".join(quoted(c) for c in cols)
    return f"max_by(struct({row}), {PACKED_ORD_SQL}) AS _w"


# SQL text of the tombstone flag (reads keep rows where it is false) and
# of read_changes' per-key classification over the winner row joined to
# the prior state's __p_* columns (null when the key had none)
_DELETED_SQL = f"coalesce({quoted(DELETED_COL)}, false)"
_NEWER_SQL = "__p_ord IS NULL OR __w_ord > __p_ord"
_EXISTED_SQL = "coalesce(NOT __p_deleted, false)"


def _change_type_sql(here: str) -> str:
    """'delete' / 'update' / 'insert' for a winner against its prior
    state, null when the transition is invisible (a delete of a key that
    was not `here`); `here` is the SQL test for "the prior state held the
    key where the winner lives"."""
    return (
        f"CASE WHEN {_DELETED_SQL} AND {here} THEN 'delete' "
        f"WHEN NOT {_DELETED_SQL} AND {here} THEN 'update' "
        f"WHEN NOT {_DELETED_SQL} AND NOT {here} THEN 'insert' END"
    )


@functools.lru_cache(maxsize=64)
def _migrating_feed_rows(cols: tuple[tuple[str, str], ...]) -> str:
    """read_changes' route-aware output rows as SQL text aliased `_r`:
    per joined row (winner columns plus the prior __p_* columns) an
    explode of the ARRIVAL row (the winner with its change type; null
    when the transition is invisible) and the DEPARTURE row (a delete
    with the prior route and the tombstone shape — null payload, the key
    identifies the document — when the key existed under another route).
    `cols` are the (name, SQL type) pairs of the output columns; built
    once per column list."""
    same_route = f"__p_route <=> {quoted(ROUTE_COL)}"
    ct = _change_type_sql(f"({_EXISTED_SQL} AND {same_route})")
    keep = {*KEY_COLS, *ORD_COLS, BUCKET_COL}

    def departed(name: str, typ: str) -> str:
        if name in keep:
            return quoted(name)
        if name == ROUTE_COL:
            return "__p_route"
        if name == DELETED_COL:
            return "true"
        return f"CAST(NULL AS {typ})"

    def row(fields: list[tuple[str, str]]) -> str:
        return "named_struct({})".format(
            ", ".join(f"{_sql_str(n)}, {e}" for n, e in fields))

    arrival = row([(n, quoted(n)) for n, _ in cols] + [(CHANGE_TYPE_COL, ct)])
    departure = row([(n, departed(n, t)) for n, t in cols]
                    + [(CHANGE_TYPE_COL, "'delete'")])
    return (
        f"explode(array(CASE WHEN ({ct}) IS NOT NULL THEN {arrival} END, "
        f"CASE WHEN {_EXISTED_SQL} AND NOT ({same_route}) THEN {departure} "
        "END)) AS _r"
    )


def resolve_lww(df: DataFrame) -> DataFrame:
    """Per-key last-writer-wins over any mix of row versions: max_by of the
    full row by the packed (lsn, tx_id, ts_ms, offset) ordering scalar
    (order.packed_ord) — Kafka arrival order is the final tie-break,
    exactly as the reference's sequential consumer loop would apply an
    exact-tie pair. Used by the read path; the folds use its clustered
    twin — max is associative, so resolving at compaction or at read
    time yields the identical winner."""
    non_key = tuple(c for c in df.columns if c not in KEY_COLS)
    return (
        df.groupBy(*KEY_COLS)
        .agg(F.expr(_lww_winner(non_key)))
        .select(*KEY_COLS, "_w.*")
    )


def resolve_lww_clustered(df: DataFrame, n_buckets: int) -> DataFrame:
    """resolve_lww fused with the compaction write's layout: ONE exchange
    for the whole fold. Hash-repartition the raw rows on the bucket column
    (a pure function of the key columns) into n_buckets partitions; the
    groupBy(bucket, *keys) that follows is satisfied by that partitioning
    (HashPartitioning(bucket) clusters every key), so Catalyst plans a
    single complete-mode aggregation in the same stage as the
    partitionBy(bucket, route) write that follows — no second exchange of
    the winner rows, and no wasted partial-aggregation pass (max_by of a
    row struct is a SortAggregate, so a partial pass sorts all raw rows
    for almost no combining when keys are spread across input splits;
    measured on a 40M-row fold it was ~45% of the fold's CPU).

    Winner-identical to resolve_lww: bucket = f(keys), so the groups are
    the same; route stays in the payload struct, so a key that migrates
    routes keeps only its winning row. Requires `df` to already carry
    BUCKET_COL. Measured (10x4M-event delta backlog, 6.6M keys): fold wall
    58.8s -> 39.4s at 4 executors, 119.5s -> 94.4s at 1 (bit-identical
    output), and fold 1->4 scaling 2.03x -> 2.40x."""
    non_key = tuple(
        c for c in df.columns if c not in KEY_COLS and c != BUCKET_COL)
    return (
        df.repartition(n_buckets, F.col(BUCKET_COL))
        .groupBy(BUCKET_COL, *KEY_COLS)
        .agg(F.expr(_lww_winner(non_key)))
        .select(BUCKET_COL, *KEY_COLS, "_w.*")
    )


class ParquetLake:
    """Merge-on-read lake table. Metadata ops are driver-side file ops on
    a shared filesystem (local here; a real deployment swaps this layer
    for an Iceberg/metastore catalog — the data plane is unchanged).
    Several writers may share one table: commits are optimistic and
    rebase or abort under a short commit lock (_commit_with_rebase).

    Each batch writes ONLY its own rows as one status-partitioned delta
    (merge_parsed) — no table read, no sort; cost is O(batch) regardless
    of table size. LWW resolves at read time (resolve_lww over
    base+deltas) and at compaction: every `compact_every` batches a
    minor fold merges the deltas and every `major_every`-th fold rewrites
    the touched base buckets, bounding read amplification
    (compact_every=1, major_every=1 folds every batch into the base).
    Iceberg v2 / Hudi / Paimon MoR is this design.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        n_buckets: int = 32,
        mode: str = "mor",
        compact_every: int | None = 10,
        tombstone_horizon_lsn: int | None = None,
        major_every: int = 4,
        minhash_bands: bool = False,
        orphan_grace_sec: float = 0.0,
        snapshot_retention: int = SNAPSHOT_RETENTION,
        route_stable_keys: bool = True,
    ):
        if mode != "mor":
            raise ValueError(
                f"unknown lake mode {mode!r}: the lake is merge-on-read "
                "only; to fold every batch into the base pass "
                "compact_every=1, major_every=1"
            )
        self.spark = spark
        self.table_dir = table_dir
        self.n_buckets = n_buckets
        # compact_every=None disables INLINE compaction entirely — the
        # decoupled deployment mode where a separate maintenance process
        # calls compact_now() while the ingest job only appends deltas
        # (commit conflicts between the two resolve by rebase, see
        # _commit_with_rebase).
        self.compact_every = compact_every
        # Tiered compaction (LSM-style): when the delta count reaches
        # compact_every, a MINOR compaction folds the deltas into ONE
        # flat delta — O(recent data), NO base read — and only every
        # `major_every`-th compaction (or when no base exists yet) runs
        # the MAJOR fold into the base. At 100 TB this is the difference
        # between rewriting the table every compact_every batches and
        # every compact_every*major_every batches, while the read path
        # sees at most compact_every-1 raw deltas plus one merged one.
        self.major_every = major_every
        # minhash_bands=True materializes the incremental-dedup LSH band
        # signature columns (signatures.SIG_COLS) on every row version
        # that WINS a fold or read (fill_band_columns after each LWW
        # resolve) — losing versions never pay the shingle cost, and a
        # winner is signed exactly once, its signature then carried
        # through later folds like any payload column. A CREATE-time
        # table property like n_buckets: mixed-writer tables (some rows
        # signed, some not) would break incremental==scratch, so
        # reopening adopts the manifest's value.
        self.minhash_bands = minhash_bands
        # Tombstone retention (SCALING.md section 7): a delete tombstone
        # only needs to outlive the SOURCE's replay horizon (Kafka
        # retention) — an older upsert can never be replayed after its
        # offset has been retained out. Compaction drops tombstones with
        # lsn < this horizon; None = retain forever (the safe default).
        self.tombstone_horizon_lsn = tombstone_horizon_lsn
        # Orphan-removal grace period (the Iceberg remove_orphan_files
        # `older_than` analog): with CONCURRENT writers, a data dir can be
        # fully written but not yet referenced by any manifest (the
        # writer is between its Spark job and its metadata commit), and
        # expire_snapshots must not delete it. 0.0 (the single-writer
        # default) keeps the historical eager behavior; decoupled
        # deployments set it comfortably above the longest write job.
        self.orphan_grace_sec = orphan_grace_sec
        # Snapshots kept by the automatic expire_snapshots after each
        # fold — the time-travel horizon AND the incremental-read (CDF)
        # horizon: read_changes(A, B) needs every intermediate snapshot
        # manifest, so a downstream sync must run at least once per
        # `snapshot_retention` commits (the Iceberg/Delta CDF retention
        # contract). Raise it for slow consumers; manifests are O(KB).
        self.snapshot_retention = snapshot_retention
        # Contract switch for ROUTE-SCOPED reads and feeds. True (the
        # default, and the reference's deployment shape — one topic per
        # Postgres table, sync.go:58-64, so a primary key can never move
        # between routes): tenant reads prune deltas and range entries by
        # the manifest route lists and filter rows per-route BEFORE LWW,
        # which is exact precisely because no key ever changes route.
        # False: keys MAY migrate routes (field-derived routing where the
        # routing column is mutable); tenant reads then resolve LWW over
        # ALL routes of the delta-touched buckets and filter WINNERS by
        # route (read(route=X) == read().filter(route==X) under arbitrary
        # migrations), and read_changes additionally emits a DEPARTURE
        # delete to the old route when a key's winning route changes —
        # without it a per-tenant downstream index would serve the
        # migrated document forever. The exactness costs the tenant
        # pruning on the delta/backlog side (any route's new version can
        # evict a tenant's key), which is why it is a declared table
        # contract and not always-on.
        self.route_stable_keys = route_stable_keys
        # test-only injection point: called before every optimistic
        # commit attempt (see _commit_with_rebase) so tests can land a
        # concurrent commit in the read->commit window deterministically
        self._pre_commit_hook = None
        self._meta_dir = os.path.join(table_dir, "_meta")
        os.makedirs(self._meta_dir, exist_ok=True)
        # n_buckets is a CREATE-time table property: the base layout was
        # hashed with it, so reopening an existing lake adopts the
        # manifest's value. Honoring a different constructor value would
        # silently mis-route keys (touched-bucket lookups against dirs
        # hashed under the old modulus -> stale duplicates survive).
        existing = self.current_meta()
        if existing is not None:
            self.n_buckets = existing["n_buckets"]
            self.minhash_bands = existing["minhash_bands"]

    # ---------------- metadata ----------------

    def _current_path(self) -> str:
        return os.path.join(self._meta_dir, "current")

    def _load_manifest(self, snapshot_id: int) -> dict:
        """The one manifest reader: every snapshot manifest the lake
        opens (current, time travel, change ranges, expiry) is checked
        here against the one shape manifest.py defines, so no other code
        path handles an older shape. A shape this engine never writes
        raises ValueError naming the snapshot and the remedy. The two
        fields older commits of this dialect may omit are filled in:
        `bucket_routes` (an empty-base commit) as {} and `minor_count` (a
        major fold or rebucket) as 0."""
        with open(os.path.join(self._meta_dir, f"snap-{snapshot_id}.json")) as f:
            meta = json.load(f)
        problem = manifest.problem(meta)
        if problem is not None:
            raise ValueError(
                f"snapshot {snapshot_id} of the lake at {self.table_dir} "
                f"{problem}: the engine no longer reads this manifest shape. "
                "Rebuild the lake: export it with jobs/export_changes.py "
                "--full on an engine release that still reads it, then "
                "replay the export into a new lake with jobs/replay.py"
            )
        meta.setdefault("bucket_routes", {})
        meta.setdefault("minor_count", 0)
        return meta

    def current_meta(self) -> dict | None:
        cp = self._current_path()
        snap_id = 0
        if os.path.exists(cp):
            with open(cp) as f:
                snap_id = int(f.read().strip())
        # Forward-scan self-heal: snapshot files are created with O_EXCL
        # and strictly increasing ids BEFORE the pointer swap, so if
        # snap-(K+1) exists the pointer is stale — either a writer crashed
        # between the exclusive snap create and the swap, or two pointer
        # swaps raced and the older one landed last. Adopting the newest
        # contiguous snapshot is safe: a snapshot file is only ever
        # written after its parent check passed, and its data files are
        # fully written and fsynced before the commit is attempted (the
        # crashed writer's retry finds the batch already applied — the
        # idempotent-replay path). One os.path.exists per read in the
        # common case.
        healed = snap_id
        while os.path.exists(
            os.path.join(self._meta_dir, f"snap-{healed + 1}.json")
        ):
            healed += 1
        if healed == 0:
            return None
        return self._load_manifest(healed)

    def _head(self) -> dict:
        """The current manifest, or snapshot 0 of a lake with no commit."""
        return self.current_meta() or manifest.empty(
            self.n_buckets, self.minhash_bands)

    def snapshot_meta(self, snapshot_id: int) -> dict:
        """Manifest of a historical snapshot (within the expire_snapshots
        retention window) — the time-travel entry point."""
        return self._load_manifest(snapshot_id)

    # ---------------- pinned refs (retention protection) ----------------

    def _refs_path(self) -> str:
        return os.path.join(self._meta_dir, "refs.json")

    def refs(self) -> dict[str, int]:
        """name -> pinned snapshot id (Iceberg tag analog)."""
        try:
            with open(self._refs_path()) as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: dict[str, int]) -> None:
        tmp = os.path.join(self._meta_dir, f".refs.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(refs, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._refs_path())

    def pin_snapshot(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot against expiry under a named ref (current if
        unspecified). expire_snapshots keeps EVERY snapshot >= the oldest
        pin — the manifest chain an incremental consumer checkpointed
        there still needs (read_changes walks it). Re-pinning a name
        moves it; a consumer that re-pins after every sync rides the
        retention window forward with zero history held beyond its own
        lag. O(ms) metadata write under the commit lock (refs are shared
        mutable state between processes, unlike immutable manifests)."""
        with self._commit_lock():
            if snapshot_id is None:
                meta = self.current_meta()
                if meta is None:
                    raise ValueError("empty lake: nothing to pin")
                snapshot_id = int(meta["id"])
            if not os.path.exists(
                os.path.join(self._meta_dir, f"snap-{snapshot_id}.json")
            ):
                raise ValueError(
                    f"snapshot {snapshot_id} does not exist or was already "
                    "expired; cannot pin"
                )
            refs = self.refs()
            refs[name] = int(snapshot_id)
            self._write_refs(refs)
        return int(snapshot_id)

    def unpin_snapshot(self, name: str) -> bool:
        """Remove a named pin; returns whether it existed. History it
        protected becomes expirable on the next maintenance pass."""
        with self._commit_lock():
            refs = self.refs()
            existed = name in refs
            if existed:
                del refs[name]
                self._write_refs(refs)
        return existed

    def _lock_path(self) -> str:
        return os.path.join(self._meta_dir, "commit.lock")

    def _lock_acquire(self) -> str:
        """Acquire the commit lock; returns the owner token. O_CREAT|O_EXCL
        is atomic on POSIX filesystems; the file holds a unique token so
        release and stale-breaking are OWNERSHIP-CHECKED — a resumed
        writer whose lock was broken while it was stalled can no longer
        unlink the new holder's lock (the lost-batch race a blind
        finally-unlink allowed)."""
        lock_path = self._lock_path()
        token = f"{os.getpid()}:{uuid.uuid4().hex}"
        deadline = time.monotonic() + COMMIT_LOCK_TIMEOUT_SEC
        while True:
            try:
                fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.close(fd)
                return token
            except FileExistsError:
                try:
                    st = os.stat(lock_path)
                    with open(lock_path) as f:
                        holder = f.read()
                except OSError:
                    continue  # holder released between EXCL and stat
                age = time.time() - st.st_mtime
                if age > COMMIT_LOCK_STALE_SEC:
                    self._lock_break(holder)
                    continue
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock {lock_path} held for {age:.1f}s; "
                        "another writer is stuck mid-commit"
                    )
                time.sleep(0.01)

    def _lock_break(self, stale_token: str) -> None:
        """Break a presumed-dead holder's lock, guarding against the
        holder having RELEASED (and another writer acquired) between our
        stat and the break: rename the lock aside (atomic — two breakers
        race on the rename, one wins), verify the sidecar still holds the
        token we judged stale, and if it does not, try to restore it via
        os.link (fails harmlessly if a new lock already exists). The
        unlink-by-path this replaces could silently break a FRESH lock."""
        lock_path = self._lock_path()
        side = f"{lock_path}.breaking.{uuid.uuid4().hex}"
        try:
            os.rename(lock_path, side)
        except OSError:
            return  # someone else broke or released it first
        try:
            with open(side) as f:
                got = f.read()
            if got != stale_token:
                # we displaced a lock that changed hands after our stat —
                # put it back if the slot is still empty
                try:
                    os.link(side, lock_path)
                except OSError:
                    pass
        finally:
            try:
                os.unlink(side)
            except OSError:
                pass

    def _lock_release(self, token: str) -> None:
        """Release only OUR lock: a holder that stalled past
        COMMIT_LOCK_STALE_SEC and was broken must not unlink the next
        writer's lock. (The read-then-unlink window is microseconds and
        only reachable after a >30s stall was already broken — the
        O_EXCL-created snapshot files below backstop even that.)"""
        lock_path = self._lock_path()
        try:
            with open(lock_path) as f:
                if f.read() != token:
                    return
            os.unlink(lock_path)
        except OSError:
            pass

    @contextmanager
    def _commit_lock(self):
        """Cross-process mutual exclusion for the metadata commit. Held
        only for the manifest check+write+swap (milliseconds, data-size
        independent), NEVER across a Spark job, so writer throughput is
        unaffected. Ownership-checked acquire/release/stale-break above;
        the exclusive snapshot-file create in _commit_snapshot_unlocked
        turns any residual double-admission into a loud CommitConflict
        instead of a silently lost commit."""
        token = self._lock_acquire()
        try:
            yield
        finally:
            self._lock_release(token)

    def _commit_snapshot(self, meta: dict) -> None:
        """Commit one manifest with optimistic concurrency control: under
        the commit lock, the table must still be at meta['parent'] —
        another writer having advanced it raises CommitConflict carrying
        the fresh manifest (callers rebase via _commit_with_rebase)."""
        with self._commit_lock():
            current = self._head()
            if current["id"] != meta["parent"]:
                raise CommitConflict(current, meta)
            self._commit_snapshot_unlocked(meta)

    def _commit_with_rebase(self, meta0: dict, build) -> dict | None:
        """Optimistic-concurrency commit loop (the Iceberg commit model):
        `build(snapshot) -> manifest|None` re-expresses ONE commit's
        intent on top of an arbitrary current snapshot — append these
        delta entries, or swap these folded buckets for these consumed
        deltas — returning None when the intent no longer applies (the
        batch was already applied by a concurrent writer; the fold's
        input deltas were already consumed by a concurrent compaction).
        The loop commits build(meta0); on CommitConflict it rebuilds on
        the conflict's fresh manifest and retries. Returns the committed
        manifest, or None when the commit aborted (caller drops any
        now-orphaned output dir; expire_snapshots' grace period protects
        other writers' in-flight dirs)."""
        attempt = build(meta0)
        if attempt is None:
            return None
        for _ in range(OCC_MAX_RETRIES + 1):
            hook = self._pre_commit_hook
            if hook is not None:
                hook()
            try:
                self._commit_snapshot(attempt)
                return attempt
            except CommitConflict as c:
                attempt = build(c.fresh_meta)
                if attempt is None:
                    return None
        raise RuntimeError(
            f"commit of snapshot built on {meta0.get('id')} did not "
            f"converge after {OCC_MAX_RETRIES + 1} attempts — a writer "
            "storm is outrunning the rebase loop"
        )

    def _commit_snapshot_unlocked(self, meta: dict) -> None:
        # fsync before the pointer swap: os.replace is atomic against
        # process crashes, but without durably flushed file contents a
        # power loss after the swap could leave `current` pointing at an
        # empty/truncated snap file — the exact failure the atomic-swap
        # design claims to prevent. O(ms) per commit, data-size
        # independent.
        snap_file = os.path.join(self._meta_dir, f"snap-{meta['id']}.json")
        payload = json.dumps(meta)
        # Published whole (written under a temp name, then hard-linked):
        # current_meta's forward scan reads snap-K as soon as it exists.
        tmp_snap = os.path.join(self._meta_dir, f".snap.{uuid.uuid4().hex}")
        with open(tmp_snap, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            # link() fails if the name exists: snapshot files are
            # immutable and ids single-assign. If two writers ever reach
            # this point for the same id (a stale-broken lock whose
            # holder resumed — see _commit_lock), the loser fails LOUDLY
            # here and rebases, instead of both writers
            # last-wins-overwriting snap file + pointer and one committed
            # batch silently vanishing.
            os.link(tmp_snap, snap_file)
        except FileExistsError:
            with open(snap_file) as f:
                existing = f.read()
            if existing != payload:
                raise CommitConflict(self._head(), meta)
            # identical content: our own crash-retry after writing the
            # snap but before the pointer swap — fall through to the swap
        finally:
            os.unlink(tmp_snap)
        tmp = os.path.join(self._meta_dir, f".current.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(meta["id"]))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._current_path())  # atomic pointer swap
        dfd = os.open(self._meta_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)  # persist the rename itself
        finally:
            os.close(dfd)

    def _new_data_rel(self, prefix: str, meta: dict) -> str:
        """Unique data-dir name per WRITE ATTEMPT (snapshot id + random
        token). Concurrent writers that read the same snapshot must never
        target the same path: with id-only names, writer B's
        mode=overwrite job would clobber writer A's fully-written but
        not-yet-committed dir, and the OCC rebase would then commit two
        manifest entries aliasing one (half-overwritten) dir. The id
        prefix is kept for human debuggability only — nothing parses it.
        A crashed attempt now leaves a uniquely-named orphan instead of
        being overwritten by the epoch retry; expire_snapshots removes
        unreferenced dirs (subject to orphan_grace_sec)."""
        return os.path.join(
            "data", f"{prefix}{meta['id'] + 1}-{uuid.uuid4().hex[:8]}"
        )

    def _check_writer_modulus(self, m: dict) -> None:
        """Commit-time guard for bucket-count evolution: everything this
        writer wrote (bucket dirs, touched-bucket lists) was hashed with
        self.n_buckets, so committing it onto a snapshot that was
        REBUCKETED underneath (rebucket()) would silently corrupt the
        bucket maps — and a manifest rebuilt from self's fields would
        even revert the table's n_buckets. Raising (instead of the OCC
        abort) is deliberate for INGEST writers: an abort is reported as
        skipped_duplicate_batch, which would advance the streaming
        checkpoint past a batch that was never applied. The raise fails
        the micro-batch before the checkpoint commits; the operator
        reopens the lake (adopting the new count) and the same epoch
        replays idempotently."""
        mn = m["n_buckets"]
        if mn != self.n_buckets:
            raise RuntimeError(
                f"table at {self.table_dir} was rebucketed underneath this "
                f"writer ({self.n_buckets} -> {mn} buckets): reopen the "
                "lake (ParquetLake adopts the manifest's bucket count at "
                "construction) and retry the batch"
            )

    def extra_columns(self) -> list[str]:
        meta = self.current_meta()
        return list(meta["extra_columns"]) if meta else []

    def applied_batch_ids(self) -> list:
        """Reconstructed applied-id list: [0..wm] + out-of-order window.
        (Exact for the streaming case of monotone integer batch ids.)
        O(n_batches) by construction — callers that only need the COUNT
        must use applied_batch_count(), which stays O(window)."""
        meta = self.current_meta()
        if not meta:
            return []
        return list(range(meta["batch_wm"] + 1)) + list(meta["recent_batch_ids"])

    def applied_batch_count(self) -> int:
        """Number of applied batches in O(window) — after 10^7 streamed
        batches applied_batch_ids() would build a 10M-element list just to
        be len()'d; the watermark already knows the answer."""
        meta = self.current_meta()
        if not meta:
            return 0
        return meta["batch_wm"] + 1 + len(meta["recent_batch_ids"])

    # ---------------- data plane ----------------

    def _row_schema(self, extra_cols: list[str]) -> T.StructType:
        """The flat row shape of a manifest column list — also the read
        schema of base buckets and flat deltas, where `__bucket` and
        `route` are typed partition columns (a numeric-looking route
        stays the string it was written as)."""
        fields = [T.StructField(c, T.StringType(), True) for c in DOMAIN_COLS]
        fields += [T.StructField(ROUTE_COL, T.StringType(), True)]
        fields += [T.StructField(c, T.StringType(), True) for c in extra_cols]
        if self.minhash_bands:
            fields += [T.StructField(c, T.StringType(), True) for c in SIG_COLS]
        fields += [
            T.StructField(LSN_COL, T.LongType(), True),
            T.StructField(TX_COL, T.LongType(), True),
            T.StructField(TS_COL, T.LongType(), True),
            T.StructField(OFFSET_COL, T.LongType(), True),
            T.StructField(DELETED_COL, T.BooleanType(), True),
            T.StructField(BUCKET_COL, T.LongType(), True),
        ]
        return T.StructType(fields)

    def _read_bucket_tree(self, paths: list[str], schema: T.StructType):
        """Bucket dirs (possibly spanning several snapshots) -> one
        DataFrame under the manifest's row schema. Bucket dirs are
        `__bucket=B` roots holding `route=R` subdirs; each snapshot's
        data dir is the basePath that types (__bucket, route) as
        partition columns, and dirs from different snapshots are separate
        trees (one load of several trips
        CONFLICTING_DIRECTORY_STRUCTURES), so group by parent and union.
        The explicit schema and the session's listing threshold
        (session.ENGINE_SQL_CONF) leave building this DataFrame without
        a Spark job: no footer read, no parallel listing."""
        groups: dict[str, list[str]] = {}
        for p in paths:
            groups.setdefault(os.path.dirname(p), []).append(p)
        return self._union([
            self.spark.read.schema(schema)
            .option("basePath", parent)
            .parquet(*sorted(ps))
            for parent, ps in sorted(groups.items())
        ])

    @staticmethod
    def _union(parts: list[DataFrame]) -> DataFrame | None:
        """unionByName of `parts` (a column some part lacks reads as
        null), or None when there are none."""
        if not parts:
            return None
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def _empty_rows(self, extra_cols: list[str]) -> DataFrame:
        """A zero-row frame in the flat row shape (bucket column dropped)."""
        return self.spark.createDataFrame(
            [], self._row_schema(extra_cols)
        ).drop(BUCKET_COL)

    @staticmethod
    def _obs_get(obs, out_dir: str, **defaults) -> dict:
        """Metrics of an Observation riding a dynamic-partition write.
        Spark quirk (4.1): a partitionBy write that commits ZERO rows
        reports a schema-less metrics row, and Observation.get's toPyRow
        conversion throws java.lang.AssertionError. Zero rows written
        means every count is 0 and every collect_set empty, so return
        `defaults` — after confirming via ONE os.listdir (exception path
        only, not a walk) that the written dir really has no partition
        dirs. Any other failure, or a non-empty dir, re-raises."""
        try:
            return obs.get
        except Exception as e:
            if "toPyRow" not in str(e):
                raise
            try:
                entries = os.listdir(out_dir)
            except OSError:
                entries = []
            if any("=" in d for d in entries):
                raise  # rows WERE written; the failure is something else
            return defaults

    def merge_parsed(self, parsed: DataFrame, batch_id) -> dict:
        """ONE-JOB, ZERO-SHUFFLE merge-on-read ingest of a full parsed
        micro-batch (the streaming hot path): the parsed rows — ALL
        statuses — stream from the source tasks directly into
        status-partitioned delta files, with extras still a map column.
        Everything the commit needs (record counts per status, observed
        open-world keys) is collected DURING that same write via the
        Observation API, so a micro-batch costs exactly one Spark job
        with no exchange at all. (The previous design shuffled the batch
        onto the bucket before writing — but nothing ever consumes deltas
        per bucket: read and compaction scan them whole, and only the
        compacted BASE needs bucket separation. Dropping that shuffle
        measured 2.2x on a 2M-event batch; the earlier
        summary-collect job, which re-paid the entire JSON parse, was
        another 2x. File count per delta = O(source tasks x statuses),
        bounded by compact_every.)

        Dead letters become a persisted dead-letter queue for free: the
        status=tombstone/malformed/unknown_op/bad_payload/missing_key
        partitions hold the poison records (with topic/partition/offset
        lineage) until compaction retires the delta — retention-bounded,
        like a DLQ topic. Flattening extras into real columns, bucket
        assignment, and LWW tombstone-nulling move to read/compaction
        time, where the manifest already knows every observed column.

        Idempotent per batch_id: a batch id already in the manifest's
        applied-batch log is skipped."""
        from pyspark.sql import Observation

        t_enter = time.monotonic()
        meta = self._head()
        if manifest.batch_applied(meta, batch_id):
            return {"status": "skipped_duplicate_batch", "batch_id": batch_id}

        obs = Observation(f"merge_parsed_{batch_id}")
        src = parsed.observe(obs, *_merge_obs_aggs(self.n_buckets))

        data_rel = self._new_data_rel("d", meta)
        out_dir = os.path.join(self.table_dir, data_rel)
        t0 = time.monotonic()
        # status-ONLY partitioning: the dead-letter statuses stay cheap to
        # scan, route stays a DATA column. Route dirs here (round 3's
        # status/route layout) multiplied the leaf-dir/file fan-out per
        # delta by the routes touched and cost the flagship ingest ~16%;
        # tenant pruning does not need them — the manifest's per-delta
        # route list (from the Observation above) skips whole deltas, and
        # only the long-lived BASE keeps route partition dirs for
        # PartitionFilters. Delta backlogs are small by construction
        # (compact_every bounds them), so a tenant read scanning a pruned
        # delta's ok-files is O(backlog), not O(table).
        # per-batch overhead breakdown (driver-side serial costs around the
        # one write job) — lag diagnostics; all fields are milliseconds
        timings = {"setup_ms": round((time.monotonic() - t_enter) * 1000, 1)}
        src.write.partitionBy("status").mode("overwrite").parquet(out_dir)
        t_after_write = time.monotonic()
        got = self._obs_get(
            obs, out_dir,
            n_records=0, extras_keysets=[], ok_routes=[], ok_buckets=[],
            **{f"n_{s}": 0 for s in DLQ_STATUSES},
        )
        timings["obs_ms"] = round((time.monotonic() - t_after_write) * 1000, 1)
        stats = {
            "status": "committed",
            "batch_id": batch_id,
            "write_sec": round(t_after_write - t0, 3),
            "timings": timings,
            "n_records": got["n_records"],
            **{k: got[k] for k in got if k.startswith("n_") and k != "n_records"},
        }

        if got["n_records"] == 0:
            shutil.rmtree(out_dir, ignore_errors=True)
            new_meta = self._commit_with_rebase(
                meta, lambda m: None if manifest.batch_applied(m, batch_id)
                else manifest.child(m, **manifest.with_batch(m, batch_id)))
            if new_meta is None:
                stats["status"] = "skipped_duplicate_batch"
                return stats
            stats["status"] = "empty_batch"
            stats["snapshot"] = new_meta["id"]
            return stats

        observed_keys = sorted(
            {k for ks in got["extras_keysets"] for k in ks} - RESERVED_COLS
        )
        extra_cols = list(meta["extra_columns"])
        new_cols = [k for k in observed_keys if k not in extra_cols]
        extra_cols += new_cols
        stats["new_columns"] = new_cols

        t_meta = time.monotonic()
        delta_entry = {
            "path": data_rel, "format": "parsed",
            "routes": sorted(got["ok_routes"] or []),
            # touched key-hash buckets recorded at commit so a MAJOR
            # fold reads only these base buckets (subset major)
            "buckets": sorted(int(b) for b in got["ok_buckets"] or []),
            # ok-partition bytes recorded at commit (one filesystem
            # summary call over the just-written files): they size
            # read_changes' classification join without re-walking the
            # tree, and never count dead-letter bytes
            "bytes": self._tree_bytes(os.path.join(out_dir, "status=ok")),
        }

        def build(m: dict) -> dict | None:
            if manifest.batch_applied(m, batch_id):
                return None  # a concurrent writer applied this batch
            self._check_writer_modulus(m)
            cols = m["extra_columns"]
            return manifest.child(
                m, **manifest.with_batch(m, batch_id),
                extra_columns=cols + [c for c in extra_cols if c not in cols],
                deltas=m["deltas"] + [delta_entry],
            )

        # batch durable before compaction; a delta append rebases over ANY
        # concurrent commit — a decoupled compaction's fold can only have
        # consumed deltas that were in the manifest it read, never this one
        new_meta = self._commit_with_rebase(meta, build)
        if new_meta is None:
            shutil.rmtree(out_dir, ignore_errors=True)
            stats["status"] = "skipped_duplicate_batch"
            return stats
        timings["commit_ms"] = round((time.monotonic() - t_meta) * 1000, 1)
        stats["delta_dir"] = out_dir

        if (self.compact_every is not None
                and manifest.raw_delta_count(new_meta) >= self.compact_every):
            t0 = time.monotonic()
            new_meta = self._maybe_compact(new_meta)
            stats["compact_sec"] = round(time.monotonic() - t0, 3)
        stats["snapshot"] = new_meta["id"]
        return stats

    def _maybe_compact(self, meta: dict) -> dict:
        """Tiered compaction policy: MAJOR (fold into the base) when no
        base exists yet or when `major_every` compactions have passed
        since the last major; MINOR (merge the deltas among themselves)
        otherwise."""
        is_major = (
            not meta["buckets"]
            or meta["minor_count"] >= self.major_every - 1
        )
        if is_major:
            return self._compact(meta)
        return self._compact_minor(meta)

    def _compact_minor(self, meta: dict) -> dict:
        """MINOR compaction: fold every outstanding delta into ONE flat
        (bucket, route)-partitioned delta — resolve_lww over the delta
        rows alone, O(recent data), the base is never read. Tombstones
        are always RETAINED here: a delta tombstone may still have to
        delete a base row, so only the MAJOR fold (which applies it to
        the base) may expire it past the horizon. LWW associativity makes
        the pre-merge exact: max over (base ∪ merged-deltas) equals max
        over (base ∪ raw deltas)."""
        # exchange sized by the backlog's TOUCHED buckets (manifest
        # union), not the table's modulus: at 10^5 buckets a small
        # backlog would otherwise plan ~10^5 shuffle partitions and
        # write tasks, ~all empty — the partition COUNT is independent
        # of the bucket VALUES, so any count is winner-exact
        extra_cols = list(meta["extra_columns"])
        rows = self._read_deltas(meta["deltas"], extra_cols)
        data_rel, pairs = self._fold_write(
            rows if rows is not None else self._empty_rows(extra_cols),
            meta, "m", self.n_buckets,
            max(len(manifest.touched_buckets(meta)), 1), horizon=None,
        )
        out_dir = os.path.join(self.table_dir, data_rel)

        # A backlog whose rows are ALL dead letters folds to ZERO ok rows
        # and registers no delta: LWW associativity makes dropping the
        # fold exact — max over (base ∪ ∅) == max over base, and
        # dead-letter rows never participate in the merge anyway. The
        # entry's route and bucket lists come from the fold's pair set;
        # the bucket list keeps the merged delta eligible for a later
        # SUBSET major fold.
        folded = []
        if pairs:
            buckets, bucket_routes = manifest.bucket_maps(data_rel, pairs)
            folded = [{
                "path": data_rel, "format": "flat", "merged": True,
                "routes": sorted({r for rs in bucket_routes.values()
                                  for r in rs}),
                "buckets": [int(b) for b in buckets],
                "bytes": self._tree_bytes(out_dir),
            }]

        # Optimistic commit: the fold consumed exactly meta's delta set.
        # It rebases over concurrent INGEST commits, whose newer deltas
        # stay outstanding, and aborts when its inputs went stale.
        def build(m: dict) -> dict | None:
            if not manifest.fold_still_applies(m, meta, self.n_buckets):
                return None
            return manifest.child(
                m, deltas=folded + manifest.unconsumed(m, meta),
                minor_count=m["minor_count"] + 1,
            )

        return self._commit_fold(meta, data_rel, build) or self.current_meta()

    def _commit_fold(self, meta: dict, data_rel: str, build) -> dict | None:
        """Commit a fold (or rebucket) of `meta` whose output is the tree
        `data_rel`; a fold commit also pays for the cleanup (expire old
        snapshots and orphaned data dirs). Returns None when the fold
        aborted: its output, never referenced, is dropped."""
        new_meta = self._commit_with_rebase(meta, build)
        if new_meta is None:
            shutil.rmtree(os.path.join(self.table_dir, data_rel),
                          ignore_errors=True)
            return None
        self.expire_snapshots(keep_last=self.snapshot_retention)
        return new_meta

    def _fold_input(
        self, meta: dict, extra_cols: list[str], buckets: list[int] | None
    ) -> DataFrame:
        """A major fold's or rebucket's input: the base rows of `buckets`
        (None: every bucket) plus every outstanding delta's rows."""
        rows = self._union([
            p for p in self._read_split(meta, extra_cols, buckets=buckets)
            if p is not None
        ])
        return rows if rows is not None else self._empty_rows(extra_cols)

    def _fold_resolve(
        self, rows: DataFrame, n_buckets: int, n_parts: int,
        horizon: int | None,
    ) -> DataFrame:
        """What a fold writes: `rows` bucketed under the `n_buckets`
        modulus and LWW-resolved by resolve_lww_clustered over `n_parts`
        shuffle partitions — ONE exchange, with the horizon filter, the
        signing and the partitioned write in its post-shuffle stage.
        Tombstones with lsn < `horizon` are dropped (None keeps every
        tombstone). With minhash_bands, winners that arrive unsigned (raw
        delta rows) are signed here, once; stored signatures pass
        through."""
        merged = resolve_lww_clustered(
            rows.withColumn(BUCKET_COL, bucket_expr(n_buckets)), n_parts
        )
        if horizon is not None:
            merged = merged.filter(
                ~(
                    F.coalesce(F.col(DELETED_COL), F.lit(False))
                    & (F.col(LSN_COL) < F.lit(horizon))
                )
            )
        if self.minhash_bands:
            merged = fill_band_columns(merged)
        return merged

    def _fold_write(
        self, rows: DataFrame, meta: dict, prefix: str, n_buckets: int,
        n_parts: int, horizon: int | None,
    ) -> tuple[str, list]:
        """The one fold step (minor fold, major fold, rebucket): resolve
        `rows` (_fold_resolve) and write them as a fresh
        (bucket, route)-partitioned tree. Returns the tree's data-dir
        name (relative to the table) and the distinct (bucket, route)
        pairs it holds, which ride the write job itself (Observation —
        O(buckets x routes), where a directory walk of the output would
        be O(files) on the driver). A write of zero rows (every input row
        a dead letter or an expired tombstone) leaves no pair and no
        directory."""
        from pyspark.sql import Observation

        data_rel = self._new_data_rel(prefix, meta)
        out_dir = os.path.join(self.table_dir, data_rel)
        obs = Observation(f"fold_{os.path.basename(data_rel)}")
        merged = self._fold_resolve(rows, n_buckets, n_parts, horizon).observe(
            obs,
            F.collect_set(
                F.struct(
                    F.col(BUCKET_COL).cast("string").alias("b"),
                    F.col(ROUTE_COL).alias("r"),
                )
            ).alias("pairs"),
        )
        merged.write.partitionBy(BUCKET_COL, ROUTE_COL).mode("overwrite").parquet(out_dir)
        pairs = self._obs_get(obs, out_dir, pairs=[])["pairs"] or []
        if not pairs:
            shutil.rmtree(out_dir, ignore_errors=True)
        return data_rel, pairs

    def _compact(self, meta: dict, full: bool = False) -> dict:
        """MAJOR compaction: fold the outstanding deltas into the base and
        drop the delta list. Only the base buckets the deltas touch —
        recorded per delta at commit time, no re-scan — are read and
        rewritten; untouched buckets are carried forward by manifest
        reference. LWW associativity makes the subset fold exact: an
        untouched bucket has NO delta versions, so max over (that bucket
        ∪ ∅) is the bucket unchanged. This makes the recurring major cost
        O(touched base + backlog), not O(table) — at 100 TB the
        difference between a runnable compaction cadence and a
        full-table rewrite every compact_every*major_every batches.

        Tombstones are RETAINED in the base by default (they guard
        late-replayed older upserts); with `tombstone_horizon_lsn` set,
        tombstones older than the source's replay horizon are expired
        here. Expiry is ON-TOUCH: only rewritten buckets shed their
        expired tombstones — safe, because retention is purely an
        optimization (an expired tombstone is never WRONG to keep, it
        just occupies space until its bucket is next touched).

        full=True counts every base bucket as touched, so the same fold
        rewrites the whole base (and expires tombstones everywhere)."""
        touched = manifest.touched_buckets(meta)
        if full:
            touched = sorted(set(touched) | {int(b) for b in meta["buckets"]})
        # the exchange is sized by the touched-bucket count, not the
        # table's modulus (see _compact_minor)
        data_rel, pairs = self._fold_write(
            self._fold_input(meta, list(meta["extra_columns"]), touched),
            meta, "s", self.n_buckets, max(len(touched), 1),
            self.tombstone_horizon_lsn,
        )
        written, written_routes = manifest.bucket_maps(data_rel, pairs)

        # Optimistic commit (the Iceberg RewriteFiles model): the fold is
        # a pure function of (the base buckets it read, the delta set it
        # consumed). It rebases over concurrent INGEST commits — their new
        # deltas stay outstanding, strictly newer than anything folded,
        # so LWW over (folded base ∪ new deltas) is exact — and aborts
        # when its inputs went stale. Untouched buckets carry forward by
        # reference; touched buckets repoint to the fold output, or drop
        # out entirely when the fold left them empty.
        read_buckets = {str(b) for b in touched}

        def carried(by_bucket: dict) -> dict:
            return {b: v for b, v in by_bucket.items() if b not in read_buckets}

        def build(m: dict) -> dict | None:
            if not manifest.fold_still_applies(
                    m, meta, self.n_buckets, read_buckets):
                return None
            return manifest.child(
                m, buckets={**carried(m["buckets"]), **written},
                bucket_routes={**carried(m["bucket_routes"]), **written_routes},
                deltas=manifest.unconsumed(m, meta), minor_count=0,
            )

        return self._commit_fold(meta, data_rel, build) or self.current_meta()

    def read_dead_letters(self, status: str | None = None) -> DataFrame:
        """The OUTSTANDING dead-letter queue: every poison record
        (tombstone / malformed / unknown_op / bad_payload / missing_key /
        missing_route) still held by the raw delta backlog, with its
        topic/partition/offset lineage — the operator's "what failed and
        why" read the persisted status partitions exist for (the
        reference logs-and-drops, sync.go:54-67; here the records
        themselves are queryable). status='malformed' narrows to one
        taxonomy value.

        Cost at scale: the status partition dirs put the filter in
        PartitionFilters, so the big status=ok partitions are never
        listed or opened; cost is O(dead-letter bytes in the backlog).

        Retention contract (same as a DLQ topic's): compaction CONSUMES
        the deltas that hold these rows — the merged/folded outputs carry
        only ok rows — so the queue covers the current backlog window
        (bounded by compact_every). Archive before folding if longer
        retention is needed."""
        meta = self.current_meta() or {}
        parts = []
        for d in meta.get("deltas", []):
            if d["format"] != "parsed":
                continue  # folded deltas hold only ok rows
            dp = os.path.join(self.table_dir, d["path"])
            df = (
                self.spark.read.option("mergeSchema", "true")
                .option("basePath", dp).parquet(dp)
                .filter(F.col("status") != "ok")
            )
            parts.append(df)
        out = self._union(parts)
        if out is None:
            return self.spark.createDataFrame(
                [], "status string, topic string, partition int, offset long"
            )
        if status is not None:
            out = out.filter(F.col("status") == status)
        return out

    def rollback_to(self, snapshot_id: int) -> dict | None:
        """Roll the table back to a retained snapshot (the Iceberg
        rollback_to_snapshot analog — bad-batch recovery): commits a NEW
        snapshot whose table content equals the target's manifest, so
        history only moves FORWARD — data dirs are immutable and carried
        by reference (O(ms) metadata, no data rewrite), the bad commits
        stay inspectable via time travel until retention expires them,
        and the batch bookkeeping (watermark + recent ids) reverts with
        the manifest, so re-ingesting corrected versions of the
        rolled-back batches applies normally instead of being dropped as
        duplicates.

        Refuses to race: if ANY other commit lands between reading the
        current snapshot and the rollback commit, returns None and leaves
        the table untouched — silently rebasing a rollback over a
        concurrent ingest commit would drop that commit's data, which is
        never what the operator meant. Retry in a quiet window.

        The committed manifest carries `rollback: true`: an incremental
        change read whose range CROSSES a rollback raises (rolled-back
        row versions would otherwise classify as live changes — the same
        append-only restriction Iceberg's incremental read has);
        consumers recover with a resync. Ranges starting AT or after the
        rollback commit are append-only again and work normally."""
        target = self.snapshot_meta(snapshot_id)  # raises if expired
        cur = self.current_meta()
        if cur is None:
            raise ValueError("empty lake: nothing to roll back")
        if cur["id"] == snapshot_id:
            return cur  # already there

        def build(m: dict) -> dict | None:
            if m["id"] != cur["id"]:
                return None  # concurrent commit: refuse (see docstring)
            return manifest.child(
                m, **manifest.table(target),
                rollback=True, rolled_back_to=int(snapshot_id),
            )

        return self._commit_with_rebase(cur, build)

    def expire_snapshots(self, keep_last: int = SNAPSHOT_RETENTION) -> dict:
        """Retention maintenance (Iceberg expire_snapshots + delete-orphans
        analog): keep the newest `keep_last` snapshot manifests, delete the
        older snap-*.json files, and remove data/* dirs referenced by NO
        kept snapshot. Bounds disk growth of the long-running tail job.
        Concurrent-writer deployments set orphan_grace_sec above their
        longest write job so another writer's fully-written but
        not-yet-committed dir is never swept (see the age check below);
        a carried-forward dir is always safe because the parent snapshot
        that references it is always in the kept set. Readers holding an
        expired snapshot are the remaining single-process assumption (a
        shared catalog would add a reader lease).

        PINNED refs (pin_snapshot — the Iceberg tag/branch-ref retention
        analog) extend the kept set: every snapshot >= the OLDEST pinned
        id survives, not just the pinned ids themselves, because an
        incremental consumer checkpointed at a pin needs the whole
        manifest CHAIN from there to current (read_changes walks it). A
        live downstream consumer that re-pins its checkpoint after every
        sync can therefore never be outrun by retention; an abandoned
        pin holds history until unpin_snapshot removes it."""
        # The keep-set computation, the pin read, and the snap-file
        # deletion run under the COMMIT LOCK: pin_snapshot verifies the
        # snap file exists and writes refs under the same lock, so a pin
        # that reports success can never be outrun by a concurrent expire
        # reading refs a moment earlier (the race would force the pinned
        # consumer into a full resync — the exact outcome pins exist to
        # prevent). Metadata-only, O(ms); the data-dir sweep below runs
        # OUTSIDE the lock (rmtree of large trees must not stall writers).
        with self._commit_lock():
            meta = self.current_meta()
            if meta is None:
                return {"removed_snapshots": 0, "removed_dirs": 0}
            snaps = sorted(
                (
                    int(f[len("snap-"):-len(".json")])
                    for f in os.listdir(self._meta_dir)
                    if f.startswith("snap-") and f.endswith(".json")
                ),
            )
            keep = {s for s in snaps if s > meta["id"] - keep_last}
            keep |= {meta["id"]}
            pins = self.refs()
            if pins:
                floor = min(pins.values())
                keep |= {s for s in snaps if s >= floor}

            removed_snaps = 0
            for s in snaps:
                if s not in keep:
                    try:
                        os.remove(
                            os.path.join(self._meta_dir, f"snap-{s}.json")
                        )
                        removed_snaps += 1
                    except OSError:
                        pass

        # Referenced set for the dir sweep: read from the snap files that
        # exist NOW (post-deletion, post-lock) — this also picks up any
        # snapshot committed while we held or released the lock, so a
        # freshly committed dir is never treated as orphaned even with
        # orphan_grace_sec=0.
        referenced: set[str] = set()
        for f_name in os.listdir(self._meta_dir):
            if not (f_name.startswith("snap-") and f_name.endswith(".json")):
                continue
            try:
                m = self._load_manifest(int(f_name[len("snap-"):-len(".json")]))
            except OSError:
                continue
            for p in m["buckets"].values():
                referenced.add(p.split(os.sep + BUCKET_COL + "=", 1)[0])
            referenced.update(d["path"] for d in m["deltas"])

        removed_dirs = 0
        data_root = os.path.join(self.table_dir, "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                rel = os.path.join("data", d)
                if rel in referenced:
                    continue
                # Concurrent-writer safety (Iceberg remove_orphan_files
                # `older_than` analog): an unreferenced dir younger than
                # the grace period may be another writer's fully-written
                # but not-yet-committed output — deleting it would lose
                # its commit. The single-writer default (grace 0) keeps
                # eager cleanup.
                if self.orphan_grace_sec > 0:
                    try:
                        age = time.time() - os.stat(
                            os.path.join(data_root, d)).st_mtime
                    except OSError:
                        continue  # vanished: another expire got it
                    if age < self.orphan_grace_sec:
                        continue
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                removed_dirs += 1
        return {"removed_snapshots": removed_snaps, "removed_dirs": removed_dirs}

    def compact_now(self, tier: str = "auto", full: bool = False) -> dict:
        """Decoupled-maintenance compaction entry point: fold the current
        outstanding backlog from a SEPARATE process while the ingest job
        keeps appending (construct the lake with compact_every=None there,
        and give both writers an orphan_grace_sec above the longest write
        job). Commit conflicts with concurrent ingest commits rebase
        automatically — their deltas stay outstanding for the next run —
        and a conflict with another compaction aborts this fold cleanly
        (the loser's output dir is dropped, the table is untouched).

        tier='auto' follows the tiered policy (minor folds, every
        major_every-th one major), 'minor'/'major' force a tier; full=True
        forces a major that counts every base bucket as touched, so it
        rewrites the whole base (_compact) — with no outstanding delta
        too, which is how tombstones past a raised tombstone_horizon_lsn
        expire in buckets no delta touches. Returns the resulting
        current manifest (unchanged when there was nothing to fold or the
        fold aborted)."""
        meta = self._head()
        full_major = full and tier != "minor" and meta["buckets"]
        if not meta["deltas"] and not full_major:
            return meta
        if tier == "minor":
            return self._compact_minor(meta)
        if tier == "major" or full:
            return self._compact(meta, full=full)
        return self._maybe_compact(meta)

    def rebucket(self, new_n_buckets: int) -> dict | None:
        """Bucket-count evolution (the Iceberg partition-spec-evolution +
        rewrite_data_files analog): rewrite the WHOLE table — base plus
        outstanding deltas, LWW-resolved — into a fresh base hashed with
        the NEW bucket modulus, flipping the manifest's n_buckets in the
        same atomic commit. A creation-time bucket count is the one
        layout decision that goes stale as a lake grows 1000x: at 10^10
        events, 64 buckets means ~1.5 TB per bucket — every bucket rewrite,
        subset fold, and point lookup degrades with it. rebucket() is the
        planned full-table maintenance op (run rarely, from the
        decoupled maintenance process) that resets that decision without
        recreating the table.

        Concurrency: the rewrite's output is hashed under a modulus NO
        concurrent writer knows yet, so unlike a compaction it cannot
        rebase — it ABORTS on ANY concurrent commit (returns None, the
        never-referenced output dir is dropped; retry when the table is
        quiescent). The reverse race is guarded at every writer's commit:
        an ingest commit raises (fail the micro-batch BEFORE its
        checkpoint commits — _check_writer_modulus) and a concurrent
        fold aborts, so a stale writer can never corrupt the new layout.
        Readers are safe by construction — read() follows manifest paths,
        and lookup()/lookup_many() take the modulus from the manifest
        they read (including time travel ACROSS a rebucket boundary).

        The rewrite is the fold step every major fold runs (_fold_write)
        on the new modulus, over every base bucket and every delta, so
        tombstone-horizon expiry applies everywhere. It calls that step
        directly rather than _compact: its commit is a fresh base, not a
        swap of touched buckets. Returns the committed manifest, or None
        if a concurrent commit aborted the rebucket."""
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        meta = self._head()
        if meta["n_buckets"] == new_n_buckets:
            self.n_buckets = new_n_buckets
            return meta  # already at the requested count: no-op

        # one shuffle re-homes every row to its bucket under the NEW
        # modulus
        data_rel, pairs = self._fold_write(
            self._fold_input(meta, list(meta["extra_columns"]), None),
            meta, "s", new_n_buckets, new_n_buckets,
            self.tombstone_horizon_lsn,
        )
        buckets, bucket_routes = manifest.bucket_maps(data_rel, pairs)

        def build(m: dict) -> dict | None:
            if m["id"] != meta["id"]:
                return None  # any concurrent commit invalidates the rewrite
            return manifest.child(
                m, n_buckets=new_n_buckets, buckets=buckets,
                bucket_routes=bucket_routes, deltas=[], minor_count=0,
            )

        new_meta = self._commit_fold(meta, data_rel, build)
        if new_meta is not None:
            self.n_buckets = new_n_buckets
        return new_meta

    def _read_base(
        self, meta: dict, extra_cols: list[str], route: str | None = None,
        bucket_set: set[int] | None = None, exclude: bool = False,
    ):
        """Base rows in the full row schema (bucket column dropped), or
        None when no bucket survives pruning. Pruning happens at the PATH
        level — a pruned
        bucket's files are never listed or opened: route=X keeps only
        buckets whose manifest route list contains X (the Q11 tenant
        read), and bucket_set keeps only those key-hash buckets
        (exclude=False — the subset-major fold's input) or everything BUT
        them (exclude=True — the untouched side of _read_state, which
        streams through with no aggregate)."""
        def bucket_has_route(b: str) -> bool:
            return route is None or route in meta["bucket_routes"][b]

        def bucket_selected(b: str) -> bool:
            if bucket_set is None:
                return True  # no filter: exclude-nothing == keep-everything
            return (int(b) in bucket_set) != exclude

        selected = [
            b for b in meta["buckets"]
            if bucket_has_route(b) and bucket_selected(b)
        ]
        base = self._read_bucket_tree(
            [os.path.join(self.table_dir, meta["buckets"][b]) for b in selected],
            self._row_schema(extra_cols),
        )
        if base is not None:
            if route is not None:
                base = base.filter(F.col(ROUTE_COL) == route)
            base = base.drop(BUCKET_COL)
        return base

    def _read_split(
        self, meta: dict, extra_cols: list[str], route: str | None = None,
        buckets: list[int] | None = None,
    ):
        """(base, delta) DataFrames, either possibly None, both in the full
        row schema. Base rows are UNIQUE per key (every base
        writer — major fold and rebucket — is a resolve_lww output);
        deltas hold multi-version rows. Base bucket paths are bucket dirs
        (route-partitioned roots) while delta paths are their own
        partitioned ROOTS, so they are read separately (mixing both in one
        load trips partition discovery).

        route=X is the tenant-pruned path (Q11): buckets and deltas whose
        manifest route list excludes X are skipped entirely (manifest
        pruning), and the route predicate on the rest lands in the base
        scans' PartitionFilters (directory pruning) — other tenants' base
        files are never opened — and in the parsed-delta scan's
        PushedFilters.

        buckets=[...] restricts the BASE side to those key-hash buckets
        (the subset-major fold's read: only buckets the deltas touch);
        the delta side is never bucket-filtered here — a subset fold
        consumes every outstanding delta whole."""
        bucket_set = None if buckets is None else {int(b) for b in buckets}
        base = self._read_base(meta, extra_cols, route=route, bucket_set=bucket_set)

        delta = self._read_deltas(
            [d for d in meta["deltas"] if manifest.matches_route(d, route)],
            extra_cols, route=route,
        )
        return base, delta

    def _read_deltas(
        self, entries: list[dict], extra_cols: list[str],
        route: str | None = None,
    ) -> DataFrame | None:
        """Delta entries' rows in the full row schema (bucket column
        dropped), or None when no entry holds an ok row. A flat delta (a
        minor fold's output) is (bucket, route)-partitioned like the base
        and reads under the manifest's row schema, one root each (several
        partitioned roots in one load trip partition discovery). All
        parsed deltas are ONE scan of their status=ok leaf dirs under one
        glob path, through one cached projection (_delta_projection):
        naming the leaf dirs keeps dead letters out at the file level,
        skips a delta that holds only dead letters, and keeps building
        the read's plan independent of the backlog depth. A route
        predicate is a partition filter on flat deltas and a data filter
        on parsed ones, over an already manifest-pruned,
        compact_every-bounded backlog."""
        schema = self._row_schema(extra_cols)
        parts = [
            self.spark.read.schema(schema)
            .parquet(os.path.join(self.table_dir, d["path"]))
            .drop(BUCKET_COL)
            for d in entries if d["format"] != "parsed"
        ]
        ok_rels = [
            d["path"] for d in entries
            if d["format"] == "parsed"
            and os.path.isdir(os.path.join(self.table_dir, d["path"], "status=ok"))
        ]
        if ok_rels:
            glob = os.path.join(
                self.table_dir, "{" + ",".join(ok_rels) + "}", "status=ok")
            parts.append(
                self.spark.read.schema(PARSED_DELTA_SCHEMA).parquet(glob)
                .selectExpr(*_delta_projection(
                    tuple(extra_cols), bool(self.minhash_bands)))
            )
        delta = self._union(parts)
        if delta is not None and route is not None:
            delta = delta.filter(F.col(ROUTE_COL) == route)
        return delta

    def _tree_bytes(self, path: str) -> int:
        """Total file bytes under a path via the Hadoop FileSystem's
        getContentSummary — ONE filesystem call whose recursion runs
        inside the storage layer (a NameNode op on HDFS, a LIST on object
        stores), replacing the driver-side os.walk that was the last
        Python directory traversal in any commit path. Bounded to the
        files the calling commit just wrote. Returns 0 for a missing path
        (the zero-row-write case)."""
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(
            self.spark._jsc.hadoopConfiguration()
        )
        if not fs.exists(jpath):
            return 0
        return int(fs.getContentSummary(jpath).getLength())

    def _read_state(
        self, meta: dict, extra_cols: list[str], route: str | None = None,
        buckets: set[int] | None = None,
        match: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame | None:
        """LWW state of snapshot `meta` in the full row schema — the one
        resolve behind read(), lookup_many and read_changes' prior state —
        or None when no base bucket or delta survives pruning.

        The base is split by the manifest's touched-bucket lists: a key's
        bucket is a pure function of the key (bucket_expr), every delta
        commit records the buckets its ok rows hash into, and every base
        writer lays rows out by the same expression, so a delta version
        can only meet a base row inside a TOUCHED bucket. Untouched
        buckets stream through as a plain scan (base rows are unique per
        key: every base writer is a resolve_lww output); the touched
        buckets and the deltas go through one resolve_lww, so only the
        touched base rows shuffle. Exact by the subset major's argument:
        an untouched bucket has no delta versions, so LWW over
        (bucket ∪ ∅) is the bucket unchanged.

        route=X is the tenant read (Q11): buckets and deltas whose
        manifest route list lacks X are skipped and the route predicate
        prunes the scans. Under route_stable_keys=False the resolved side
        reads the touched buckets and deltas of ALL routes, so any route's
        newer version can evict the tenant's key, and filters the winners
        on route; the pass-through side stays tenant-pruned (an untouched
        bucket's base rows are global winners, so their stored route is
        their winning route).

        buckets={...} keeps only those key-hash buckets of the base and
        only the deltas whose bucket list meets them. A kept delta may
        also hold versions of keys in other buckets, which come out
        resolved without their base row: callers select their own keys,
        either on the result or with `match`, a DataFrame -> DataFrame
        key filter applied to every scan below the resolve (lookup_many's
        key semi-join: the optimizer does not push a left-semi join
        through resolve_lww's struct-unpacking projection)."""
        migrating = route is not None and not self.route_stable_keys
        scan_route = None if migrating else route
        if buckets is not None:
            meta = manifest.bucket_pruned(meta, buckets)
        touched = set(manifest.touched_buckets(meta, route=scan_route))
        if buckets is None:
            passed = self._read_base(meta, extra_cols, route=route,
                                     bucket_set=touched, exclude=True)
        else:
            touched &= buckets
            passed = self._read_base(meta, extra_cols, route=route,
                                     bucket_set=buckets - touched)
        base, delta = self._read_split(meta, extra_cols, route=scan_route,
                                       buckets=sorted(touched))
        if match is not None:
            passed, base, delta = (
                None if p is None else match(p) for p in (passed, base, delta)
            )
        resolved = None
        if delta is not None:
            resolved = resolve_lww(
                self._union([p for p in (base, delta) if p is not None]))
            if migrating:
                resolved = resolved.filter(F.col(ROUTE_COL) == route)
        return self._union([p for p in (passed, resolved) if p is not None])

    # ---------------- read path ----------------

    def read(
        self,
        include_deleted: bool = False,
        include_internal: bool = False,
        snapshot_id: int | None = None,
        route: str | None = None,
        keep_signatures: bool = False,
    ) -> DataFrame:
        """Final table state; snapshot_id time-travels to any snapshot the
        retention window still holds (Iceberg VERSION AS OF analog —
        snapshots are immutable and data files are only removed by
        expire_snapshots once no retained snapshot references them).

        route=X is the tenant-scoped read (Q11, the reference's per-tenant
        index). Under route_stable_keys=True (default): only that route's
        partition directories are listed and scanned — manifest-level
        bucket/delta pruning plus PartitionFilters on the route dirs, and
        LWW is resolved within the tenant's rows alone, exact because the
        table contract says no key ever changes route. Under
        route_stable_keys=False (mutable routing field): LWW is resolved
        across ALL routes of the delta-touched buckets and the WINNERS
        are filtered on route, so read(route=X) equals
        read().filter(route == X) under arbitrary migrations — untouched
        buckets still pass through tenant-pruned (their base rows are
        global winners, so their stored route is their winning route)."""
        meta = (
            self.snapshot_meta(snapshot_id)
            if snapshot_id is not None
            else self.current_meta()
        )
        extra_cols = list(meta["extra_columns"]) if meta else []
        # merge-on-read: several versions of a key may coexist across base
        # and deltas until compaction; _read_state resolves them
        df = self._read_state(meta, extra_cols, route=route) if meta else None
        if df is None:
            df = self._empty_rows(extra_cols)
        if self.minhash_bands and keep_signatures and meta and meta["deltas"]:
            # winners resolved from a still-raw delta backlog arrive
            # unsigned (every base writer runs the post-LWW fill); sign
            # exactly those rows (stored base signatures pass through
            # untouched). Skipped entirely when the caller drops the
            # columns anyway, and on base-only reads (nothing to sign —
            # the fill's plan cost is not free).
            df = fill_band_columns(df)
        if not include_deleted:
            df = df.filter(f"NOT {_DELETED_SQL}")
        if not include_internal:
            df = df.drop(*INTERNAL)
        if not keep_signatures:
            df = df.drop(*SIG_COLS)  # no-op on unsigned tables
        return df

    def key_bucket(self, repo: str, path: str) -> int:
        """The key-hash bucket of a primary key — the engine's own
        bucket_expr, computed on the driver (key_bucket_of: no Spark
        job)."""
        return self.key_buckets([(repo, path)])[(repo, path)]

    def key_buckets(
        self, keys: list[tuple[str, str]], n_buckets: int | None = None
    ) -> dict[tuple[str, str], int]:
        """key -> key-hash bucket for a batch of primary keys, computed
        on the driver by key_bucket_of, a bit-exact twin of bucket_expr
        (Spark's xxhash64 + pmod; ~35 µs a key, no Spark job). n_buckets
        overrides the instance's modulus — lookups pass the modulus of
        the MANIFEST they read, so they stay correct when another process
        rebucket()ed the table, and when time-traveling across a rebucket
        boundary."""
        n = n_buckets or self.n_buckets
        return {k: key_bucket_of(k, n) for k in keys}

    def lookup(
        self,
        repo: str,
        path: str,
        include_deleted: bool = False,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Primary-key point lookup — the reference proxy's get-document
        analog (GET /indexes/{i}/documents/{id}; Meilisearch resolves it
        on the PK) — returning 0 or 1 rows, at O(one bucket + key-pruned
        backlog) cost instead of read().filter(key)'s O(table):

        * the key's bucket is a pure function of the key (bucket_expr),
          so ONLY that base bucket directory is listed and scanned —
          at 10^5 buckets that is ~1/100,000th of the table, before the
          key predicate even reaches the parquet footers (it lands in
          PushedFilters, skipping row groups within the bucket);
        * outstanding deltas are manifest-pruned by their touched-bucket
          lists: a delta whose backlog cannot contain the key's bucket is
          never read;
        * LWW resolves over the surviving handful of rows — max over the
          key's base row and its delta versions, the same associativity
          argument as every other read path.

        Exact vs read(): a key's versions live ONLY in its bucket (every
        base writer lays rows out by bucket_expr) and in deltas whose
        bucket list contains it, so the pruned union holds every version
        the full read would see for this key."""
        return self.lookup_many(
            [(repo, path)],
            include_deleted=include_deleted,
            snapshot_id=snapshot_id,
        )

    # above this many keys the per-key OR predicate stops being a good
    # idea (expression-tree size, no footer-stat benefit once the key set
    # spans most row groups) and a broadcast semi-join takes over
    LOOKUP_PREDICATE_MAX = 64
    # read_changes' classification join broadcasts both sides when the
    # range's delta entries hold at most this many parquet bytes, and
    # falls back to a shuffle join above it
    broadcast_delta_bytes = 32 * 1024 * 1024

    def lookup_many(
        self,
        keys: list[tuple[str, str]],
        include_deleted: bool = False,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Batched primary-key lookup — the multi-get analog of lookup()
        (Meilisearch's POST /indexes/{i}/documents/fetch with an ids
        filter) — returning at most one current row per requested key at
        O(union of key buckets + bucket-pruned backlog) cost.

        Same pruning as lookup(), vectorized over the key set: the
        buckets of all keys are computed on the driver (key_buckets, no
        Spark job); only those base bucket dirs are listed; deltas whose
        manifest bucket list cannot intersect the key buckets are
        skipped; the rest resolve through _read_state. Key matching runs
        on every scan below the resolve: an OR-of-conjunctions predicate
        (lands in PushedFilters — row-group skipping) up to
        LOOKUP_PREDICATE_MAX keys, and a broadcast left-semi join above
        that many (the key list broadcasts; the scan side never shuffles
        for it), so a 10^6-key batch lookup is still one pass over only
        the key buckets."""
        keys = list(dict.fromkeys((r, p) for r, p in keys))
        meta = (
            self.snapshot_meta(snapshot_id)
            if snapshot_id is not None
            else self.current_meta()
        )
        extra_cols = list(meta["extra_columns"]) if meta else []
        df = None
        if keys and meta:
            if len(keys) <= self.LOOKUP_PREDICATE_MAX:
                # one SQL text: a None key element compares to NULL and
                # matches nothing
                pred = " OR ".join(
                    f"(repo = {_sql_str(r)} AND path = {_sql_str(p)})"
                    for r, p in keys
                )

                def match(d: DataFrame) -> DataFrame:
                    return d.filter(pred)
            else:
                keys_df = F.broadcast(
                    self.spark.createDataFrame(keys, ["repo", "path"]))

                def match(d: DataFrame) -> DataFrame:
                    return d.join(keys_df, ["repo", "path"], "left_semi")

            wset = set(
                self.key_buckets(keys, n_buckets=meta["n_buckets"]).values()
            )
            df = self._read_state(meta, extra_cols, buckets=wset, match=match)
        if df is None:
            return self._empty_rows(extra_cols).drop(*INTERNAL, *SIG_COLS)
        if not include_deleted:
            df = df.filter(f"NOT {_DELETED_SQL}")
        return df.drop(*INTERNAL, *SIG_COLS)

    # ---------------- incremental change extraction (CDF) ----------------

    def _snapshot_chain(self, from_id: int, to_id: int) -> list[dict]:
        """Manifests of every snapshot in (from_id, to_id], oldest first —
        the walk behind read_changes. Linear history (every commit's
        parent is the snapshot it rebased onto), so the parent pointers
        are the chain. Raises when an intermediate manifest was expired:
        the incremental read needs every commit in the range, exactly the
        Iceberg/Delta CDF retention contract."""
        if from_id > to_id:
            raise ValueError(
                f"from_snapshot_id {from_id} is newer than to_snapshot_id "
                f"{to_id}"
            )
        chain: list[dict] = []
        cur = to_id
        while cur != from_id:
            if cur is None or cur < from_id:
                raise ValueError(
                    f"snapshot {from_id} is not an ancestor of {to_id}"
                )
            try:
                m = self.snapshot_meta(cur)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot {cur} in the range ({from_id}, {to_id}] has "
                    "been expired by expire_snapshots: incremental reads "
                    "need every intermediate snapshot — sync at least once "
                    f"per snapshot_retention (= {self.snapshot_retention}) "
                    "commits, or raise the retention"
                ) from None
            if m.get("rollback"):
                # Rolled-back row versions inside the range would
                # classify as live changes (the range's delta files still
                # hold them, but the state they produced was undone) —
                # the same append-only restriction Iceberg's incremental
                # read has. The consumer's recovery is a resync.
                raise ValueError(
                    f"snapshot range ({from_id}, {to_id}] crosses a "
                    f"rollback at snapshot {cur} (rolled back to "
                    f"{m.get('rolled_back_to')}): incremental changes "
                    "are undefined across a rollback — resync from a "
                    "fresh bootstrap, or read changes from the rollback "
                    "commit onward"
                )
            chain.append(m)
            cur = m.get("parent")
        chain.reverse()
        return chain

    def read_changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        include_internal: bool = False,
        route: str | None = None,
        departures: bool | None = None,
    ) -> DataFrame:
        """Net row-level changes between two snapshots — the Delta Lake
        CDF / Iceberg incremental-read analog, and the lake's downstream
        feed: the reference pushes every change to Meilisearch as it
        happens (sync.go:84 AddDocuments / sync.go:108 DeleteDocument);
        with the lake in the middle, a downstream sync consumes
        `read_changes(last_synced, current)` instead of re-reading the
        table — O(changes in range), not O(table).

        Returns one row per key whose winning version CHANGED in the
        range, in the read() column shape plus `_change_type`
        ('insert' | 'update' | 'delete'); for deletes the payload columns
        are null (the tombstone shape — the key identifies the document
        to remove, Meilisearch DeleteDocument style). Applying the rows
        to the from-snapshot state (PK-replace upserts + deletes)
        reproduces the to-snapshot state exactly — the invariant the
        tests assert.

        Semantics are VERSION-based, matching LWW: a change is emitted
        iff the key's winning (lsn, tx, ts, offset) at `to` is strictly
        newer than at `from` and the transition is visible (a delete of a
        key absent at `from`, or an in-range insert+delete, emits
        nothing; a re-upsert with identical content but a newer version
        IS an update — downstream PK-replace is idempotent, and deciding
        otherwise would cost a full-width column comparison).

        Under route_stable_keys=False (mutable routing field), the feed
        additionally treats the downstream as a set of PER-ROUTE indexes:
        a key whose winning route changed emits an 'insert' into the new
        route AND a 'delete' with the OLD route (the departure row — null
        payload, the key identifies the document), so a per-tenant
        consumer never serves a migrated document forever. Apply the rows
        per (key, route) in that mode. `departures=False` opts a
        migrating lake's feed back into route-AGNOSTIC per-key
        classification — the right shape for a KEY-based downstream
        (lake-to-lake replication via export: a departure delete would
        carry the same ordering tokens as the arrival upsert and tie at
        the replica's LWW); use it only with route=None.

        Cost: O(range delta bytes) for the new versions (the per-commit
        manifest diff collects exactly the delta files appended in the
        range — folds/rebuckets in the range only reorganize rows and
        contribute nothing) + O(changed-bucket subset of the FROM
        snapshot) to classify against prior state, pruned by the same
        manifest bucket lists as every other subset read. Small ranges
        broadcast; large ranges fall back to a shuffle join."""
        cur = self.current_meta()
        if to_snapshot_id is None:
            if cur is None:
                raise ValueError("empty lake: nothing to read changes from")
            to_snapshot_id = cur["id"]

        to_meta = (
            cur if cur is not None and cur["id"] == to_snapshot_id
            else self.snapshot_meta(to_snapshot_id)
            if to_snapshot_id != 0 else None
        )
        extra_cols = list(to_meta["extra_columns"]) if to_meta else []
        sig = SIG_COLS if self.minhash_bands else []
        out_internal = list(INTERNAL) if include_internal else []

        def empty() -> DataFrame:
            return (
                self._empty_rows(extra_cols)
                .drop(*sig, *[c for c in INTERNAL if c not in out_internal])
                .withColumn(CHANGE_TYPE_COL, F.lit(None).cast("string"))
            )

        if from_snapshot_id == to_snapshot_id:
            return empty()

        chain = self._snapshot_chain(from_snapshot_id, to_snapshot_id)
        try:
            from_meta = (
                self.snapshot_meta(from_snapshot_id)
                if from_snapshot_id != 0 else None
            )
        except FileNotFoundError:
            raise ValueError(
                f"from snapshot {from_snapshot_id} has been expired by "
                "expire_snapshots — sync within the retention window"
            ) from None
        entries = manifest.range_data_entries(chain, from_meta)
        if not entries:
            return empty()

        # route=X scopes the feed to one tenant (a per-tenant downstream
        # consumer, the reference's one-index-per-collection shape).
        # Under route_stable_keys=True: range deltas whose manifest route
        # list excludes X are skipped whole, the rest filter on the route
        # data column, and the prior read prunes the same way — exact
        # because the table contract says a key's versions all share one
        # route. Under route_stable_keys=False: NO route pruning (a
        # migration away from X is signalled by a version routed
        # elsewhere), the classification below is route-aware, DEPARTURE
        # deletes are emitted to the old route, and the tenant filter
        # lands on the OUTPUT rows.
        prune_route = route if self.route_stable_keys else None
        if prune_route is not None:
            entries = [
                d for d in entries
                if manifest.matches_route(d, prune_route)
            ]
            if not entries:
                return empty()

        # -- winning version per key changed in the range: O(range bytes)
        versions = self._read_deltas(entries, extra_cols, route=prune_route)
        if versions is None:
            return empty()  # the range holds dead letters only
        winners = resolve_lww(versions).withColumn("__w_ord", packed_ord())

        # migration-exact tenant scope: filter OUTPUT rows on route (the
        # inputs were deliberately not pruned); no departures can exist
        # on the insert-only paths below (no prior state to depart from)
        out_route = None if self.route_stable_keys else route

        def finish(out: DataFrame) -> DataFrame:
            if out_route is not None:
                out = out.filter(F.col(ROUTE_COL) == out_route)
            return out.drop(
                BUCKET_COL, "__w_ord", "__p_ord", "__p_deleted", "__p_route",
                *sig, *[c for c in INTERNAL if c not in out_internal],
            )

        if from_meta is None:
            # since the beginning: every surviving winner is an insert
            return finish(
                winners.filter(f"NOT {_DELETED_SQL}")
                .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            )

        # -- prior state of the changed keys, read from ONLY the buckets
        # the range touched (under the FROM snapshot's modulus). When no
        # rebucket in the range changed the modulus, the union of the
        # entries' manifest bucket lists IS the touched set (zero extra
        # jobs); across a rebucket, recompute the buckets of the changed
        # keys with the engine's own bucket expression — one tiny job
        # over the O(changes) winners, collecting <= n_A ints.
        n_a = from_meta["n_buckets"]
        if all(m["n_buckets"] == n_a for m in chain):
            wset = {b for d in entries for b in d["buckets"]}
        else:
            wset = {
                int(r["b"])
                for r in winners.select(
                    bucket_expr(n_a).alias("b")
                ).distinct().collect()
            }
        prior = self._read_state(from_meta, extra_cols, route=prune_route,
                                 buckets=wset)
        if prior is None:
            return finish(
                winners.filter(f"NOT {_DELETED_SQL}")
                .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            )

        prior_sel = prior.selectExpr(
            *KEY_COLS,
            f"{_DELETED_SQL} AS __p_deleted",
            f"{PACKED_ORD_SQL} AS __p_ord",
            f"{quoted(ROUTE_COL)} AS __p_route",
        )
        # classification join: prior is O(touched buckets), winners are
        # O(changes). Semi-prune prior down to the changed keys first;
        # small ranges (manifest byte counts, broadcast_delta_bytes) broadcast
        # both sides of the probe — the base-side scan never shuffles.
        small = sum(d["bytes"] for d in entries) <= self.broadcast_delta_bytes
        wkeys = winners.select(*KEY_COLS)
        if small:
            wkeys = F.broadcast(wkeys)
        prior_small = prior_sel.join(wkeys, KEY_COLS, "left_semi")
        if small:
            prior_small = F.broadcast(prior_small)
        joined = winners.join(prior_small, KEY_COLS, "left")

        use_departures = (
            (not self.route_stable_keys) if departures is None
            else departures
        )
        if not use_departures:
            return finish(
                joined.filter(_NEWER_SQL)
                .withColumn(CHANGE_TYPE_COL,
                            F.expr(_change_type_sql(_EXISTED_SQL)))
                .filter(f"{CHANGE_TYPE_COL} IS NOT NULL")
            )

        # Route-aware classification for mutable routing fields. The
        # downstream is a SET of per-route indexes (the reference's one
        # Meilisearch index per collection), so a key whose winning route
        # changed must emit TWO rows: an insert into the new route (it
        # never lived there) and a DEPARTURE delete to the old route
        # (without it the old tenant's index serves the migrated document
        # forever). A delete whose envelope carries a different route
        # than the key's prior home emits only the departure — the
        # winner's own route never held the document. Both rows are
        # emitted in ONE pass via explode-of-structs: a union of two
        # filtered branches would duplicate the whole range-scan +
        # classification-join subtree in the physical plan (Catalyst does
        # not share subplans across union branches), doubling the feed's
        # I/O for migrating lakes.
        helper = {"__w_ord", "__p_ord", "__p_deleted", "__p_route"}
        out_cols = tuple(
            (f.name, f.dataType.simpleString())
            for f in joined.schema.fields if f.name not in helper
        )
        out = (
            joined.filter(_NEWER_SQL)
            .select(F.expr(_migrating_feed_rows(out_cols)))
            .filter(F.col("_r").isNotNull())
            .select("_r.*")
        )
        return finish(out)

    def destroy(self) -> None:
        shutil.rmtree(self.table_dir, ignore_errors=True)
