"""Consistency-level reads (guarantee_ts) and collection TTL visibility.

Milvus read semantics the replicated data must honor:

- **Consistency levels** pick a ``guarantee_ts`` the reader waits for:
  Strong = latest ts, BoundedStaleness = latest minus a graceful window
  (default 5 s), Eventually = whatever is already serviceable. The
  reference preserves exactly this ts order end-to-end (hybrid-TSO
  passthrough, core/reader/replicate_channel_manager.go monotonic-ts
  path), so a batch read of the replica at guarantee_ts G is "replay ops
  with ts <= G". The serviceable ts of a replica is the channel-safe
  watermark: min over vchannels of max applied ts (same quantity as the
  A4 global min-ts aggregate).
- **Collection TTL** (``collection.ttl.seconds`` property, replicated
  through the DDL/properties path): entities whose latest insert is older
  than now − ttl are invisible to reads; ttl 0 means no expiry.

Spark-first: cutoffs are 1-row aggregates broadcast onto the op-log
(no collect, no driver state); replay is a partial+final conditional
aggregate of operators.apply's replay terms, each gated by ts <= cutoff,
and liveness is apply.is_alive — the batch replay's own rule, so a
Strong read equals a full replay. A known set of N cutoffs (the levels,
known session ids) becomes N column groups of ONE pk-keyed aggregate
(``_alive_at_cutoffs``): at 100 TB the cutoff dimension multiplies
per-row work by its tiny cardinality but adds no extra shuffle — the
aggregate carries one row per (collection, pk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.operators.apply import is_alive, replay_terms

#: Hybrid-TSO physical-ms shift (Milvus TSO layout: physical ms << 18).
TSO_SHIFT = 18

#: BoundedStaleness graceful window, ms (Milvus default 5 s).
BOUNDED_GRACEFUL_MS = 5_000


def _level_cutoffs(ops: DataFrame) -> DataFrame:
    """One row holding all three guarantee_ts cutoffs, from a SINGLE
    per-vchannel aggregation (the global max ts IS the max over channel
    maxima, so one channel-keyed agg feeds all three levels):

    Strong = max ts; Bounded = Strong − (5 s << 18);
    Eventually = serviceable watermark = min over vchannels of max ts.
    """
    return (
        ops.groupBy("vchannel")
        .agg(F.max("ts").alias("ch_max"))
        .agg(
            F.max("ch_max").alias("c_strong"),
            (F.max("ch_max") - F.lit(BOUNDED_GRACEFUL_MS << TSO_SHIFT)).alias(
                "c_bounded"
            ),
            F.min("ch_max").alias("c_eventually"),
        )
    )


def guarantee_ts_levels(ops: DataFrame) -> DataFrame:
    """One row per consistency level: (level, guarantee_ts)."""
    return _level_cutoffs(ops).selectExpr(
        "stack(3, '1_strong', c_strong, '2_bounded', c_bounded, "
        "'3_eventually', c_eventually) AS (level, guarantee_ts)"
    )


def _alive_at_cutoffs(seen: DataFrame, cutoffs: dict, label: str) -> DataFrame:
    """Alive (collection, pk, ``label``, last_insert_ts, last_delete_ts,
    n_inserts) rows of a replay at each of N cutoffs. ``seen`` is the
    op-log with every cutoff as a column (a broadcast 1-row frame);
    ``cutoffs`` maps each label value to its cutoff column.

    One pk-keyed aggregate computes every cutoff as conditional-aggregate
    COLUMNS (apply.replay_terms gated by ts <= cutoff), so the shuffle
    carries ONE row per pk and the op stream is not multiplied by N; the
    expansion to one row per (label, pk) (stack) happens after the
    aggregate, on pk-count rows.
    """
    cols = []
    for i, cutoff in enumerate(cutoffs.values()):
        ins, dele, rows = replay_terms(within=F.col("ts") <= F.col(cutoff))
        cols += [
            F.max(ins).alias(f"_li{i}"),
            F.max(dele).alias(f"_ld{i}"),
            F.sum(rows).alias(f"_n{i}"),
        ]
    stack_args = ", ".join(
        f"{value!r}, _li{i}, _ld{i}, _n{i}" for i, value in enumerate(cutoffs)
    )
    return (
        seen.groupBy("collection", "pk")
        .agg(*cols)
        .selectExpr(
            "collection",
            "pk",
            f"stack({len(cutoffs)}, {stack_args}) "
            f"AS ({label}, last_insert_ts, last_delete_ts, n_inserts)",
        )
        .filter(is_alive())
    )


def read_at_levels(ops: DataFrame) -> DataFrame:
    """Per (level, collection) alive counts after replaying ops with
    ts <= the level's guarantee_ts — the visible state a client at that
    consistency level observes on the replica.

    Single-pass plan: the 1-row cutoff frame broadcasts onto the op-log
    and ``_alive_at_cutoffs`` computes all three levels in one per-pk
    aggregate — the pk-keyed shuffle carries ONE row per pk (9 columns)
    instead of one row per (level, pk), and the op-log is scanned once
    for cutoffs and once for the replay. A Strong read over an op-log
    with upsert/import rows agrees with a full apply.replay_alive pass.
    """
    seen = ops.crossJoin(F.broadcast(_level_cutoffs(ops)))
    alive = _alive_at_cutoffs(
        seen,
        {
            "1_strong": "c_strong",
            "2_bounded": "c_bounded",
            "3_eventually": "c_eventually",
        },
        "level",
    )
    return (
        alive.groupBy("level", "collection")
        .agg(
            F.count("*").alias("alive_pks"),
            F.sum("n_inserts").alias("total_inserts"),
        )
        .orderBy("level", "collection")
    )


def ttl_visible(alive: DataFrame, ttl_props: DataFrame) -> DataFrame:
    """Split replayed-alive rows into visible vs TTL-expired per collection.

    ``alive`` is operators.apply.replay_alive output (collection, pk,
    last_insert_ts, ...); ``ttl_props`` is the replicated collection
    properties dim (collection, ttl_seconds), ttl 0 = no expiry. "now" is
    the latest insert ts in the data (deterministic batch analog of the
    server clock). Properties side is catalog-sized → broadcast.
    """
    now = alive.agg(F.max("last_insert_ts").alias("now_ts"))
    joined = (
        alive.join(F.broadcast(ttl_props), "collection", "left")
        .crossJoin(F.broadcast(now))
        .withColumn(
            "visible",
            (F.coalesce(F.col("ttl_seconds"), F.lit(0)) == 0)
            | (
                F.col("last_insert_ts")
                >= F.col("now_ts")
                - F.shiftleft(F.col("ttl_seconds") * 1000, TSO_SHIFT)
            ),
        )
    )
    return (
        joined.groupBy("collection", "ttl_seconds")
        .agg(
            F.sum(F.when(F.col("visible"), 1).otherwise(0)).alias("visible_pks"),
            F.sum(F.when(F.col("visible"), 0).otherwise(1)).alias("expired_pks"),
        )
        .orderBy("collection")
    )


def read_your_writes(
    ops: DataFrame,
    session_col: str = "session",
    session_ids: tuple | None = None,
) -> DataFrame:
    """Milvus **Session** consistency level (read-your-writes): each
    client session reads at guarantee_ts = the last timestamp IT wrote
    — later writers' ops are invisible, its own are always visible
    (pymilvus ConsistencyLevel.Session; the proxy tracks the
    session's last write ts and sends it as guarantee_ts).

    Plan: per-session cutoffs are a catalog-sized aggregate broadcast
    back onto the op-log; the replay is one conditional aggregate keyed
    (session, collection, pk). When the session ids are known up front
    (``session_ids``), ``read_at_levels``' shape is used instead
    (``_alive_at_cutoffs``): ONE 1-row cutoff frame broadcast, every
    session computed as conditional-aggregate COLUMNS of a single
    pk-keyed row (no op-stream row multiplication — measured ~3x faster
    at 4 sessions), stacked to rows only after the aggregate. With
    unknown session ids the generic path multiplies rows by the session
    cardinality.

    Returns (session, guarantee_ts, alive_pks, total_inserts).
    """
    if session_ids is not None:
        # Persisted: this 1-row frame feeds BOTH the broadcast crossJoin
        # and the guarantee-ts stack below — unpersisted, each consumer
        # re-derives it with its own full op-log scan + aggregate.
        cuts_row = cache(ops.agg(
            *[
                F.max(
                    F.when(F.col(session_col) == s, F.col("ts"))
                ).alias(f"_g{i}")
                for i, s in enumerate(session_ids)
            ]
        ))
        alive = _alive_at_cutoffs(
            ops.crossJoin(F.broadcast(cuts_row)),
            {s: f"_g{i}" for i, s in enumerate(session_ids)},
            "_reader",
        )
        g_stack = ", ".join(
            f"{s!r}, _g{i}" for i, s in enumerate(session_ids)
        )
        gmap = cuts_row.selectExpr(
            f"stack({len(session_ids)}, {g_stack}) AS (_reader, _g)"
        )
        return (
            alive.groupBy("_reader")
            .agg(
                F.count("*").alias("alive_pks"),
                F.sum("n_inserts").alias("total_inserts"),
            )
            .join(F.broadcast(gmap), "_reader")
            .select(
                F.col("_reader").alias(session_col),
                F.col("_g").cast("bigint").alias("guarantee_ts"),
                "alive_pks",
                F.col("total_inserts").cast("bigint").alias("total_inserts"),
            )
            .orderBy(session_col)
        )

    cuts = ops.groupBy(session_col).agg(F.max("ts").alias("_g"))
    seen = ops.drop(session_col).crossJoin(
        F.broadcast(cuts.select(F.col(session_col).alias("_reader"), "_g"))
    ).filter(F.col("ts") <= F.col("_g"))
    ins, dele, rows = replay_terms()
    agg = seen.groupBy("_reader", "_g", "collection", "pk").agg(
        F.max(ins).alias("_li"),
        F.max(dele).alias("_ld"),
        F.sum(rows).alias("_n"),
    )
    alive = agg.filter(is_alive("_li", "_ld"))
    return (
        alive.groupBy("_reader", "_g")
        .agg(
            F.count("*").alias("alive_pks"),
            F.sum("_n").alias("total_inserts"),
        )
        .select(
            F.col("_reader").alias(session_col),
            F.col("_g").cast("bigint").alias("guarantee_ts"),
            "alive_pks",
            F.col("total_inserts").cast("bigint").alias("total_inserts"),
        )
        .orderBy(session_col)
    )
