"""CDC replay / apply — "what rows exist downstream after this op-log?"

Reference semantics: the offline data-diff tool decides a PK is alive iff
``max(insert_ts) >= max(delete_ts)`` (server/tool/data_diff/main.go:160-174);
the live path applies inserts/deletes per channel in ts order with
delete-before-insert on ties (core/reader/replicate_channel_manager.go:
1450-1454) — for last-writer-wins-by-ts, both reduce to the same conditional
aggregate.

Spark-first design: one hash aggregation over the op-log
(``groupBy(pk).agg(max(when(...)))``). Catalyst plans partial (map-side) +
final aggregation, so the shuffle carries one row per (partition, pk) —
this is the scalable MERGE equivalent: at 100 TB the op-log aggregation
shuffles only distinct pks, and the result joins back to payload storage by
pk. No collect, no driver state.

This module is the one home of that rule: ``replay_terms`` (what one op
adds to its pk's state), ``is_alive`` (the liveness predicate) and
``drop_cutoff`` (liveness under bulk drops). The batch replays here, the
streaming state fold and alive() read (streaming.pipeline), the
consistency reads (operators.consistency) and scripts/data_diff.py all
build on them, so an incremental read equals a batch replay of the same
op prefix by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.operators.filters import insert_like


def replay_terms(within: Column | None = None) -> tuple[Column, Column, Column]:
    """The three terms one op adds to its pk's state: its ts if it is
    insert-like (shared filters.INSERT_LIKE contract: 'upsert' and
    'import' advance liveness exactly like insert), its ts if it is a
    delete, and its inserted row count (0 otherwise). Every replay folds
    them the same way — max, max, sum — whether as one aggregate over the
    op-log or as state rows merged later. ``within`` (a boolean Column)
    gates every term, so a read at a cutoff replays only the ops it sees.
    """
    is_ins = insert_like()
    is_del = F.col("op_type") == "delete"
    if within is not None:
        is_ins = within & is_ins
        is_del = within & is_del
    return (
        F.when(is_ins, F.col("ts")),
        F.when(is_del, F.col("ts")),
        F.when(is_ins, F.col("num_rows")).otherwise(F.lit(0)),
    )


def is_alive(li: str = "last_insert_ts", ld: str = "last_delete_ts") -> Column:
    """The data_diff rule (main.go:160-174): a pk is alive iff it has an
    insert and ``max(insert_ts) >= max(delete_ts)`` — an insert at exactly
    a delete's ts wins."""
    return F.col(li).isNotNull() & (F.col(ld).isNull() | (F.col(li) >= F.col(ld)))


def drop_cutoff(
    state: DataFrame, part_drops: DataFrame, coll_drops: DataFrame
) -> DataFrame:
    """The alive rows of per-pk ``state`` under bulk drops: a pk survives
    iff its last insert is not superseded by a later pk delete, NOR a
    later drop of its partition (``part_drops``: collection, partition,
    _part_drop_ts), NOR a later drop of its collection (``coll_drops``:
    collection, _coll_drop_ts). An insert at exactly a cutoff ts wins, so
    a collection re-created after its drop comes back. The cutoff dims
    are catalog-sized and broadcast onto the state."""
    cut = F.greatest(
        F.coalesce(F.col("last_delete_ts"), F.lit(-1)),
        F.coalesce(F.col("_part_drop_ts"), F.lit(-1)),
        F.coalesce(F.col("_coll_drop_ts"), F.lit(-1)),
    )
    return (
        state.join(F.broadcast(part_drops), ["collection", "partition"], "left")
        .join(F.broadcast(coll_drops), ["collection"], "left")
        .filter(
            F.col("last_insert_ts").isNotNull()
            & (F.col("last_insert_ts") >= cut)
        )
        .drop("_part_drop_ts", "_coll_drop_ts")
    )


def replay_alive(ops: DataFrame) -> DataFrame:
    """Per-pk conditional aggregate → alive rows after full replay.

    Returns (collection, pk, last_insert_ts, n_inserts) for alive pks,
    i.e. pks whose latest insert is not superseded by a later delete.
    """
    ins, dele, rows = replay_terms()
    agg = ops.groupBy("collection", "pk").agg(
        F.max(ins).alias("last_insert_ts"),
        F.max(dele).alias("last_delete_ts"),
        F.sum(rows).alias("n_inserts"),
    )
    return agg.filter(is_alive()).select(
        "collection", "pk", "last_insert_ts", "n_inserts"
    )


def replay_alive_with_drops(ops: DataFrame) -> DataFrame:
    """Replay with BULK-DROP semantics: the data stream's DropPartition /
    DropCollection messages (channel_writer.go:245-267 handles both in
    the DML path, whitelist P1 forwards them) erase everything in their
    scope as of their ts (``drop_cutoff``) — last-writer-wins across pk,
    partition and collection scopes, so re-inserts after a drop
    (collection recreate) stay alive.

    Plan: ONE pass over the op-log — a conditional aggregate keyed
    (collection, partition, pk) that folds pk ops AND drop ops in the
    same shuffle (drop rows carry pk NULL, so they land on their own
    scope keys) — persisted, then two BROADCAST left joins against the
    drop cutoffs read back out of that aggregate. The cutoff dims are
    catalog-sized (one row per dropped partition/collection). The old
    shape derived each cutoff frame from the raw ``ops`` lineage, which
    re-ran the source scan + derivation chain once per consumer — 3x
    read amplification on a frame that at 100 TB is the whole op-log.
    """
    ins, dele, _ = replay_terms()
    agg0 = cache(
        ops.groupBy("collection", "partition", "pk")
        .agg(
            F.max(ins).alias("last_insert_ts"),
            F.max(dele).alias("last_delete_ts"),
            F.max(
                F.when(F.col("op_type") == "drop_partition", F.col("ts"))
            ).alias("_pdt0"),
            F.max(
                F.when(F.col("op_type") == "drop_collection", F.col("ts"))
            ).alias("_cdt0"),
        )
    )
    part_drops = (
        agg0.filter(F.col("_pdt0").isNotNull())
        .groupBy("collection", "partition")
        .agg(F.max("_pdt0").alias("_part_drop_ts"))
    )
    coll_drops = (
        agg0.filter(F.col("_cdt0").isNotNull())
        .groupBy("collection")
        .agg(F.max("_cdt0").alias("_coll_drop_ts"))
    )
    return drop_cutoff(agg0, part_drops, coll_drops).select(
        "collection", "partition", "pk", "last_insert_ts"
    )


def replay_summary(ops: DataFrame) -> DataFrame:
    """Aggregate replay result per collection — the e2e check the reference's
    tests run (downstream num_entities == upstream, tests/testcases/
    test_cdc_sync_requests.py:111-124)."""
    alive = replay_alive(ops)
    return (
        alive.groupBy("collection")
        .agg(
            F.count("*").alias("alive_pks"),
            F.sum("n_inserts").alias("total_inserts"),
            F.max("last_insert_ts").alias("max_ts"),
        )
        .orderBy("collection")
    )


def fill_defaults(
    ops: DataFrame,
    defaults: dict[str, object],
    not_nullable: tuple[str, ...] = (),
) -> DataFrame:
    """Milvus 2.5 nullable / ``default_value`` semantics at apply time
    (milvus.io "Nullable & Default Value"): a NULL (or absent — parquet
    mergeSchema surfaces absent as NULL) payload field takes its schema
    ``default_value``; a nullable field without one stays NULL; a
    non-nullable field without one makes the ROW invalid — flagged, not
    thrown, so the caller can quarantine it (control.quarantine) without
    failing the batch, the same batch-survives contract as the
    reference's error handling.

    Replication hits this when the downstream schema gained defaulted
    fields the upstream ops don't carry yet (the AlterCollection window
    schema_evolution_apply replays).

    Pure per-row column projection (coalesce per defaulted field, one
    OR-chain for the invalid flag) — no shuffle, partition-preserving at
    any scale.
    """
    out = ops
    for fld, dv in defaults.items():
        out = out.withColumn(fld, F.coalesce(F.col(fld), F.lit(dv)))
    invalid = F.lit(False)
    for fld in not_nullable:
        invalid = invalid | F.col(fld).isNull()
    return out.withColumn("_invalid", invalid)
