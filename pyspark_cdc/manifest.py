"""The lake's snapshot manifest: its one shape, every transition from a
snapshot to its child, and the queries the read and fold paths ask of it.

A manifest is the dict `ParquetLake.current_meta()` returns and
`_meta/snap-K.json` holds: `id` and `parent`, the table fields
(TABLE_KEYS: modulus, signature flag, promoted columns, bucket -> dir
and route list, minor folds since the last major, outstanding delta
entries, applied-batch watermark), and, on a rollback commit only,
ROLLBACK_KEYS. Like an Iceberg snapshot, each manifest is derived from
its parent by one operation: every commit is `child(parent, **changes)`,
the only code that sets `id` and `parent`. It copies the table fields
and nothing else, so a marker that describes one commit never carries
into the next. No Spark here: manifest I/O, the commit lock and the
optimistic commit loop stay on ParquetLake.
"""

from __future__ import annotations

import os

# the partition column the base is laid out by: a bucket dir is
# `<data dir>/__bucket=B`
BUCKET_COL = "__bucket"
# out-of-order applied-batch-id window kept above the watermark
RECENT_BATCH_WINDOW = 1024

# Keys every committed manifest carries, and every delta entry in it.
# (`bucket_routes` and `minor_count` are filled in on load when an older
# commit left them out.)
MANIFEST_KEYS = ("id", "parent", "n_buckets", "minhash_bands",
                 "extra_columns", "buckets", "deltas", "batch_wm",
                 "recent_batch_ids")
DELTA_ENTRY_KEYS = ("path", "format", "routes", "buckets", "bytes")
# What a child copies from its parent: the table, not the commit.
TABLE_KEYS = ("n_buckets", "minhash_bands", "extra_columns", "buckets",
              "bucket_routes", "minor_count", "deltas", "batch_wm",
              "recent_batch_ids")
ROLLBACK_KEYS = ("rollback", "rolled_back_to")


def problem(meta: dict) -> str | None:
    """Why `meta` is not a manifest this engine writes, or None. The
    engine reads one dialect: dict delta entries that record their route
    list, touched buckets and byte count, a route list per base bucket,
    and an applied-batch watermark. Older shapes (string delta entries,
    entries without those fields, the `batch_ids` list that predates the
    watermark, buckets without route lists) are refused, not converted."""
    if "batch_ids" in meta:
        return "records applied batches as a `batch_ids` list"
    missing = [k for k in MANIFEST_KEYS if k not in meta]
    if missing:
        return f"has no {', '.join(missing)}"
    for entry in meta["deltas"]:
        if not isinstance(entry, dict):
            return f"has a delta entry {entry!r} that is not a dict"
        missing = [k for k in DELTA_ENTRY_KEYS if k not in entry]
        if missing:
            return (f"has a delta entry {entry.get('path')!r} with no "
                    f"{', '.join(missing)}")
    routes = meta.get("bucket_routes", {})
    unrouted = sorted((b for b in meta["buckets"] if b not in routes), key=int)
    if unrouted:
        return f"has base buckets {unrouted} with no bucket_routes entry"
    return None


def empty(n_buckets: int, minhash_bands: bool) -> dict:
    """Snapshot 0: the parent of a lake's first commit."""
    return {
        "id": 0, "parent": None, "n_buckets": n_buckets,
        "minhash_bands": minhash_bands, "extra_columns": [], "buckets": {},
        "bucket_routes": {}, "minor_count": 0, "deltas": [],
        "batch_wm": -1, "recent_batch_ids": [],
    }


def child(parent: dict, **changes) -> dict:
    """The next snapshot: `parent`'s table fields with `changes` applied.
    Only TABLE_KEYS and, for a rollback, ROLLBACK_KEYS may change; the
    child shares unchanged values with its parent (neither is mutated)."""
    unknown = set(changes) - set(TABLE_KEYS) - set(ROLLBACK_KEYS)
    if unknown:
        raise ValueError(f"not a manifest field: {', '.join(sorted(unknown))}")
    return {"id": parent["id"] + 1, "parent": parent["id"],
            **table(parent), **changes}


def table(meta: dict) -> dict:
    """`meta`'s table fields (what a rollback restores)."""
    return {k: meta[k] for k in TABLE_KEYS}


def batch_applied(meta: dict, batch_id) -> bool:
    return (
        isinstance(batch_id, int) and batch_id <= meta["batch_wm"]
    ) or batch_id in meta["recent_batch_ids"]


def with_batch(meta: dict, batch_id) -> dict:
    """`batch_wm` and `recent_batch_ids` after applying batch_id: the
    watermark advances over every contiguous applied id, so the manifest
    stays O(window) over any number of batches. If the recent window
    overflows RECENT_BATCH_WINDOW, the NUMERICALLY lowest ids are dropped
    — safe direction: a dropped id re-applies as a duplicate delta, which
    the LWW merge is content-idempotent against (max is
    duplicate-insensitive), whereas the other direction would skip data."""
    wm, recent = meta["batch_wm"], set(meta["recent_batch_ids"])
    recent.add(batch_id)
    while (wm + 1) in recent:
        wm += 1
        recent.discard(wm)
    recent = {b for b in recent if not (isinstance(b, int) and b <= wm)}
    if len(recent) > RECENT_BATCH_WINDOW:
        # numeric-aware ordering: int ids compare by value (str sorting
        # would drop '999' in favor of '1000'); non-int ids sort after
        # ints so they are preferentially retained (rare, can't advance
        # the watermark anyway).
        recent = set(sorted(
            recent,
            key=lambda b: (not isinstance(b, int), b if isinstance(b, int) else str(b)),
        )[-RECENT_BATCH_WINDOW:])
    return {"batch_wm": wm, "recent_batch_ids": sorted(recent, key=str)}


def fold_still_applies(
    m: dict, read: dict, n_buckets: int, read_buckets=()
) -> bool:
    """Whether a fold of snapshot `read`, hashed with `n_buckets`, can
    commit on top of `m`: the modulus is unchanged (a rebucket in between
    re-laid the base and consumed every delta the fold read), every delta
    the fold consumed is still outstanding (no concurrent fold consumed
    one), and no base bucket in `read_buckets` was repointed (no
    concurrent major fold rewrote one). A fold that fails this is stale
    duplicate work; dropping it is exact because no manifest references
    its output."""
    return (
        m["n_buckets"] == n_buckets
        and {d["path"] for d in read["deltas"]} <= {d["path"] for d in m["deltas"]}
        and all(m["buckets"].get(b) == read["buckets"].get(b)
                for b in read_buckets)
    )


def unconsumed(m: dict, read: dict) -> list[dict]:
    """`m`'s deltas a fold of snapshot `read` did not consume: the ones
    concurrent ingest appended since (LWW is order-insensitive, so they
    stay outstanding after the fold's output)."""
    consumed = {d["path"] for d in read["deltas"]}
    return [d for d in m["deltas"] if d["path"] not in consumed]


def raw_delta_count(meta: dict) -> int:
    """Deltas appended since the last compaction of any kind — the
    product of a MINOR fold (merged=True) does not re-trigger
    compaction by itself."""
    return sum(1 for d in meta["deltas"] if not d.get("merged"))


def matches_route(d: dict, route: str | None) -> bool:
    """Manifest-level delta pruning for route-scoped reads: a delta
    whose route list lacks X holds no row of route X."""
    return route is None or route in d["routes"]


def touched_buckets(meta: dict, route: str | None = None) -> list[int]:
    """Union of the per-delta touched-bucket lists — the base buckets a
    MAJOR fold must read. route=X keeps only deltas whose route list
    holds X, so a tenant-scoped read resolves only the buckets its own
    backlog touched."""
    return sorted({
        int(b) for d in meta["deltas"] if matches_route(d, route)
        for b in d["buckets"]
    })


def bucket_pruned(meta: dict, buckets: set[int]) -> dict:
    """`meta` keeping only the deltas whose touched-bucket list meets
    `buckets`: any other delta holds no version of a key hashed into
    them."""
    return dict(meta, deltas=[
        d for d in meta["deltas"] if not buckets.isdisjoint(d["buckets"])
    ])


def bucket_maps(data_rel: str, pairs: list) -> tuple[dict, dict]:
    """A fold's (bucket, route) pair set (`b`, `r` fields) -> (bucket ->
    bucket dir, bucket -> sorted route list), keyed by the bucket as a
    string, in bucket order."""
    routes: dict[str, set] = {}
    for p in pairs:
        rs = routes.setdefault(p["b"], set())
        if p["r"] is not None:
            rs.add(p["r"])
    order = sorted(routes, key=int)
    return (
        {b: os.path.join(data_rel, f"{BUCKET_COL}={b}") for b in order},
        {b: sorted(routes[b]) for b in order},
    )


def range_data_entries(chain: list[dict], from_meta: dict | None) -> list[dict]:
    """The delta entries APPENDED BY DATA COMMITS within the chain.
    Per-commit manifest diff: a data commit adds exactly one delta
    entry and removes none; a fold (minor/major) or rebucket removes
    entries (its added merged entry only REORGANIZES rows already
    counted — collecting it would double-count, and worse, a minor
    fold can merge deltas that predate the range start); an
    empty-batch commit changes nothing. The union of the returned
    entries' files therefore holds exactly the row versions written
    in the range, each once.

    A commit that applies a batch by repointing base buckets, without
    consuming a delta or changing the modulus, is a copy-on-write data
    commit (older lakes may hold them): its rows never reached a delta,
    so the range is refused rather than read short. A full major fold of
    a lake with no outstanding delta also repoints buckets, but applies
    no batch: it changes no row's winner and contributes nothing."""
    prev = {d["path"] for d in (from_meta or {}).get("deltas", [])}
    prev_meta = from_meta or {}
    entries: list[dict] = []
    for m in chain:
        cur = {d["path"] for d in m["deltas"]}
        if not prev - cur:
            modulus = m["n_buckets"]
            applied = ((m["batch_wm"], m["recent_batch_ids"])
                       != (prev_meta.get("batch_wm", -1),
                           prev_meta.get("recent_batch_ids", [])))
            if (applied and m["buckets"] != prev_meta.get("buckets", {})
                    and prev_meta.get("n_buckets", modulus) == modulus):
                raise ValueError(
                    f"snapshot {m['id']} rewrote base buckets without "
                    "consuming a delta (a copy-on-write commit): it "
                    "left no per-commit delta trail to read changes "
                    "from — resync from a fresh bootstrap, or read "
                    "changes from that commit onward"
                )
            entries.extend(
                d for d in m["deltas"]
                if d["path"] not in prev and not d.get("merged")
            )
        prev = cur
        prev_meta = m
    return entries
