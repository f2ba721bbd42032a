"""Change-log export: the lake as a CDC PRODUCER.

The reference sits at the END of a change pipeline (Kafka in, search
index out). A lake engine at 100 TB is usually the MIDDLE of one: other
systems tail ITS changes — downstream Kafka topics (the outbox pattern),
replica lakes in other regions, audit logs. This module re-emits
`read_changes(A, B)` as Debezium-shaped envelopes in the engine's own
Kafka record shape (KAFKA_SHAPE), so the export is directly re-ingestable
by another ParquetLake (lake→lake replication) or publishable to a real
topic by swapping the parquet write for a Kafka sink.

Design points:

* Pure column expressions end to end (`to_json` over structs, null
  fields dropped — exactly the open-world envelope convention the parser
  reads back); zero Python in the row path, one distributed write.
* The winning version's ORIGINAL ordering tokens (lsn, tx, ts, offset)
  ride the envelope, so replication composes with LWW: re-applying an
  export is idempotent, overlapping exports converge, and a replica fed
  two chunks out of order still lands on the source state — the same
  late/duplicate safety contract as the primary ingest (T3).
* Upserts (insert/update) export as op='u' with the full after image
  (extras included, absent-when-null); deletes export as op='d' with the
  key-only before image — a replica hard-deletes where the source
  soft-deleted, which is state-equivalent by construction.
* topic = route, so multi-tenant routing round-trips through the
  replica's own topic-as-route derivation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import (DELETED_COL, KEY_COLS, LSN_COL, OFFSET_COL, TS_COL,
                      TX_COL)
from .sink import CHANGE_TYPE_COL, ROUTE_COL, ParquetLake, quoted

_N_PARTITIONS = 8


def changes_to_envelopes(changes: DataFrame) -> DataFrame:
    """read_changes(include_internal=True) rows -> KAFKA_SHAPE records.

    Debezium field placement mirrors what parse.py reads back
    (sync.go:123-248 semantics): payload.op, payload.after / .before,
    payload.source.{lsn, ts_ms}, payload.transaction.id."""
    payload_cols = [c for c in changes.columns if c not in (
        *KEY_COLS, CHANGE_TYPE_COL, ROUTE_COL,
        LSN_COL, TX_COL, TS_COL, OFFSET_COL, DELETED_COL,
    )]
    after = F.struct(
        *[F.col(k).alias(k) for k in KEY_COLS],
        *[F.col(quoted(c)).alias(c) for c in payload_cols],
    )
    before_key = F.struct(*[F.col(k).alias(k) for k in KEY_COLS])
    source = F.struct(
        F.col(LSN_COL).alias("lsn"), F.col(TS_COL).alias("ts_ms")
    )
    tx = F.struct(F.col(TX_COL).alias("id"))
    is_del = F.col(CHANGE_TYPE_COL) == "delete"
    # to_json drops null fields (ignoreNullFields default): an evolved
    # column that is null for a row is ABSENT from its envelope, exactly
    # the open-world convention the extras parser expects
    upsert_value = F.to_json(F.struct(F.struct(
        after.alias("after"), F.lit("u").alias("op"),
        source.alias("source"), tx.alias("transaction"),
    ).alias("payload")))
    delete_value = F.to_json(F.struct(F.struct(
        before_key.alias("before"), F.lit("d").alias("op"),
        source.alias("source"), tx.alias("transaction"),
    ).alias("payload")))
    return changes.select(
        F.to_json(before_key).alias("key"),
        F.when(is_del, delete_value).otherwise(upsert_value).alias("value"),
        F.col(ROUTE_COL).alias("topic"),
        F.pmod(F.xxhash64(*KEY_COLS), F.lit(_N_PARTITIONS))
        .cast("int").alias("partition"),
        F.col(OFFSET_COL).alias("offset"),
    )


def export_changes_log(
    lake: ParquetLake,
    from_snapshot_id: int,
    out_dir: str,
    to_snapshot_id: int | None = None,
    route: str | None = None,
) -> dict:
    """Write the (from, to] net changes as a Kafka-shaped parquet log —
    re-ingestable by replay_batch/run_stream on another lake, or by any
    Debezium consumer. Returns {n_records, to_snapshot}."""
    meta = lake.current_meta()
    if to_snapshot_id is None:
        if meta is None:
            raise ValueError("empty lake: nothing to export")
        to_snapshot_id = meta["id"]
    # Global export (route=None) forces departures=False: the target is
    # a KEY-based store (another lake resolving LWW per key) where a
    # migrated key's arrival upsert alone moves it, and a departure
    # delete would ride the SAME ordering tokens as the arrival and tie
    # at the replica's LWW. A ROUTE-SCOPED export keeps the mode default
    # (departures on migrating lakes): within one route's feed arrival
    # and departure can never coexist for a key (they always carry
    # different routes), so no tie is possible — and WITHOUT the
    # departure a tenant replica would keep a key that migrated away
    # forever, exactly the staleness the mechanism exists to prevent.
    changes = lake.read_changes(
        from_snapshot_id, to_snapshot_id, include_internal=True, route=route,
        departures=False if route is None else None,
    )
    env = changes_to_envelopes(changes)

    from pyspark.sql import Observation

    obs = Observation(f"export_{from_snapshot_id}_{to_snapshot_id}")
    env = env.observe(obs, F.count(F.lit(1)).alias("n"))
    env.repartition(_N_PARTITIONS).write.mode("overwrite").parquet(out_dir)
    got = ParquetLake._obs_get(obs, out_dir, n=0)
    if got["n"] == 0:
        # a zero-row log dir would break schema inference downstream;
        # leave a valid empty Kafka-shaped file instead
        lake.spark.createDataFrame([], "key string, value string, "
                                   "topic string, partition int, offset long"
                                   ).coalesce(1).write.mode("overwrite").parquet(out_dir)
    return {"n_records": int(got["n"]), "from_snapshot": from_snapshot_id,
            "to_snapshot": to_snapshot_id,
            "out_dir": os.path.abspath(out_dir)}
