"""J1: per-key last-writer-wins ordering by (lsn, tx_id, ts_ms, offset).

The reference gets ordering implicitly from Kafka partition order
(sync.go:36-43 sequential iteration over PK-keyed topics); micro-batches
destroy that, so ordering becomes explicit here (SURVEY.md section 2.3 J1).

LWW is ``groupBy(key).agg(max_by(row, packed_ord))`` — sink.resolve_lww
at read time, and its clustered twin in the folds — so ingest needs no
separate LWW stage at all. The read-side aggregate has a MAP-SIDE
PARTIAL COMBINE: a hot key's rows are reduced to one candidate per task
*before* the shuffle, so a key holding 50% of a 10^10-event batch ships
~n_tasks rows, not 5*10^9. No salting needed — partial aggregation IS
the salt, chosen by the engine.

This module holds the ordering tuple and its packed comparator.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .schemas import LSN_COL, OFFSET_COL, TS_COL, TX_COL

ORD_COLS = [LSN_COL, TX_COL, TS_COL, OFFSET_COL]
# Uniqueness caveat, stated rather than papered over: the tuple is
# unique per (key, kafka partition) — offset is the per-partition final
# tie-break — but an EXACT 4-way tie across partitions (possible only
# when source metadata is entirely absent, coalescing lsn/tx/ts to 0,
# AND two partitions hold the same offset for the same key) leaves the
# winner to max_by's first-encountered row: deterministic for a given
# plan, not across partition orders (a lake read scans all raw deltas as
# one file list, so rows meet in Spark's file-packing order rather than
# commit order; only such an exact tie can tell). Kafka itself defines no
# cross-partition order, and the reference's per-partition concurrent
# consumers (main.go) have the same race — a CDC source that shards one
# PRIMARY KEY across partitions without LSNs is operating outside any
# ordering contract this engine could honor.


# Each field is coalesced (null ranks as 0, matching the oracle's
# missing-metadata coalesce; parse.py already coalesces, so this only
# guards rows from exotic/legacy inputs), XORed with shiftleft(1L, 63)
# (the long with only the sign bit set) and written as 16 fixed-width hex
# digits. SQL text built once: resolves and feed classifications embed it
# in their own expression strings instead of rebuilding a Column tree.
PACKED_ORD_SQL = "unhex(concat({}))".format(", ".join(
    f"lpad(hex(coalesce({c}, 0) ^ shiftleft(1L, 63)), 16, '0')"
    for c in ORD_COLS
))


def packed_ord():
    """The 4-field ordering tuple packed into ONE 32-byte big-endian BINARY
    whose unsigned lexicographic order equals the tuple's signed
    lexicographic order: each long's sign bit is flipped (an
    order-preserving signed->unsigned bijection over the full long domain,
    though every ordering field here is non-negative by construction), then
    fixed-width hex-encoded and concatenated. One memcmp replaces the
    4-field struct walk in the LWW max_by comparator.

    Scope note (PLANS.md "fused LWW+MERGE"): the aggregate remains
    SortAggregate regardless — ANY built-in ordered-selection aggregate
    that carries a row struct (max_by, max(struct)) has an immutable
    UnsafeRow buffer, and the measured two-phase alternative that does get
    a HashAggregate (per-key max of this packed scalar + shuffle-hash
    join back) is ~2.5x slower end-to-end because it re-shuffles the full
    rows a second time. The packed key is kept for the cheaper comparator
    and the simpler ordering contract."""
    return F.expr(PACKED_ORD_SQL)
