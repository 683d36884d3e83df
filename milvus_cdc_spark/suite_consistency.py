"""Read-semantics parity queries: consistency-level (guarantee_ts) reads
and collection-TTL visibility over the replicated op-log.

Reference grounding: the CDC path preserves hybrid-TSO order end-to-end
(monotonic-ts repair, core/reader/replicate_channel_manager.go:1764-1843),
which is exactly what makes a guarantee_ts read well-defined on the
replica; collection properties such as ``collection.ttl.seconds`` flow
through the replicated DDL path (core/writer DDL handlers). See
operators/consistency.py for the execution-shape notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark import oplog
from milvus_cdc_spark.catalog import local_frame as _local_frame
from milvus_cdc_spark.operators import apply as apply_op
from milvus_cdc_spark.operators import consistency
from milvus_cdc_spark.suite import _t, q

# ---------------------------------------------------------------------------
# Consistency levels: Strong / BoundedStaleness / Eventually as guarantee_ts
# cutoffs replayed against the op-log. Level names carry a sort prefix so
# both engines order identically.
# ---------------------------------------------------------------------------


@q(
    "consistency_levels_read",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    levels AS (
      SELECT '1_strong' AS level, (SELECT max(ts) FROM ops) AS guarantee_ts
      UNION ALL
      SELECT '2_bounded', (SELECT max(ts) FROM ops) - (CAST(5000 AS BIGINT) << 18)
      UNION ALL
      SELECT '3_eventually',
             (SELECT min(ch_max) FROM (
                SELECT vchannel, max(ts) AS ch_max FROM ops GROUP BY vchannel))
    ),
    seen AS (
      SELECT l.level, o.collection, o.pk, o.op_type, o.ts, o.num_rows
      FROM ops o CROSS JOIN levels l
      WHERE o.ts <= l.guarantee_ts
    ),
    agg AS (
      SELECT level, collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS li,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS ld,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS n_inserts
      FROM seen GROUP BY 1, 2, 3
    )
    SELECT level, collection,
           count(*) AS alive_pks,
           CAST(sum(n_inserts) AS BIGINT) AS total_inserts
    FROM agg
    WHERE li IS NOT NULL AND (ld IS NULL OR li >= ld)
    GROUP BY level, collection
    ORDER BY level, collection
    """,
    "cdc",
    "consistency",
    "guarantee-ts",
)
def consistency_levels_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    return consistency.read_at_levels(ops)


# ---------------------------------------------------------------------------
# Collection TTL: replicated collection.ttl.seconds property applied at
# read time — "now" is the latest insert ts (deterministic batch analog).
# ---------------------------------------------------------------------------

#: (collection, ttl_seconds) — the replicated properties dim. 0 = no expiry.
TTL_PROPS: tuple[tuple[str, int], ...] = (
    ("coll_0", 31_536_000),   # 1 year
    ("coll_1", 126_144_000),  # 4 years
    ("coll_2", 0),            # no TTL
)

_SQL_TTL_PROPS = ", ".join(f"('{c}', {t})" for c, t in TTL_PROPS)


@q(
    "ttl_expiry",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    alive AS (
      SELECT collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS last_insert_ts
      FROM ops GROUP BY collection, pk
      HAVING max(CASE WHEN op_type = 'insert' THEN ts END) IS NOT NULL
         AND (max(CASE WHEN op_type = 'delete' THEN ts END) IS NULL
              OR max(CASE WHEN op_type = 'insert' THEN ts END)
                 >= max(CASE WHEN op_type = 'delete' THEN ts END))
    ),
    props(collection, ttl_seconds) AS (VALUES {_SQL_TTL_PROPS}),
    now_t AS (SELECT max(last_insert_ts) AS now_ts FROM alive)
    SELECT a.collection,
           CAST(p.ttl_seconds AS BIGINT) AS ttl_seconds,
           CAST(sum(CASE WHEN p.ttl_seconds = 0
                         OR a.last_insert_ts >=
                            n.now_ts - (CAST(p.ttl_seconds AS BIGINT) * 1000 << 18)
                    THEN 1 ELSE 0 END) AS BIGINT) AS visible_pks,
           CAST(sum(CASE WHEN p.ttl_seconds = 0
                         OR a.last_insert_ts >=
                            n.now_ts - (CAST(p.ttl_seconds AS BIGINT) * 1000 << 18)
                    THEN 0 ELSE 1 END) AS BIGINT) AS expired_pks
    FROM alive a
    LEFT JOIN props p ON a.collection = p.collection
    CROSS JOIN now_t n
    GROUP BY 1, 2
    ORDER BY 1
    """,
    "cdc",
    "ttl",
    "properties",
)
def ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    alive = apply_op.replay_alive(ops)
    props = _local_frame(ops.sparkSession, 
        list(TTL_PROPS), "collection string, ttl_seconds bigint"
    )
    return consistency.ttl_visible(alive, props).select(
        "collection",
        "ttl_seconds",
        F.col("visible_pks").cast("bigint"),
        F.col("expired_pks").cast("bigint"),
    )


# ---------------------------------------------------------------------------
# Growing + sealed lambda read (Milvus query path: sealed segments on disk
# UNION the in-memory growing segment). The Spark side SEALS the op-log at
# a deterministic flush cutoff with the pipeline's real batch_to_state /
# merge_state functions, then merges the growing tail and keeps the
# apply.is_alive rows — while the oracle replays the whole log in one pass. A hash match proves the
# incremental merge algebra equals single-pass replay CROSS-ENGINE, which
# is the exact invariant the streaming foreachBatch apply relies on.
# ---------------------------------------------------------------------------

#: flush cutoff: ops at/under this hybrid-ts are "sealed" (1996-01-01).
SEAL_CUTOFF_TS = 820_454_400_000 << 18


@q(
    "growing_sealed_read",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    agg AS (
      SELECT collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS li,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS ld,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS n_inserts
      FROM ops GROUP BY collection, pk
    )
    SELECT collection,
           count(*) AS alive_pks,
           CAST(sum(n_inserts) AS BIGINT) AS total_inserts,
           max(li) AS max_ts
    FROM agg
    WHERE li IS NOT NULL AND (ld IS NULL OR li >= ld)
    GROUP BY collection
    ORDER BY collection
    """,
    "cdc",
    "streaming",
    "lambda-read",
)
def growing_sealed_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase read (sealed state ⊕ growing tail) vs the oracle's
    single-pass replay — merge-algebra equivalence, oracle-checked."""
    from milvus_cdc_spark.streaming.pipeline import batch_to_state, merge_state

    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    sealed = batch_to_state(ops.filter(F.col("ts") <= F.lit(SEAL_CUTOFF_TS)))
    growing = batch_to_state(ops.filter(F.col("ts") > F.lit(SEAL_CUTOFF_TS)))
    merged = merge_state(sealed, growing)
    return (
        merged.filter(apply_op.is_alive())
        .groupBy("collection")
        .agg(
            F.count("*").alias("alive_pks"),
            F.sum("n_inserts").alias("total_inserts"),
            F.max("last_insert_ts").alias("max_ts"),
        )
        .orderBy("collection")
    )


# ---------------------------------------------------------------------------
# Session consistency (read-your-writes): four synthetic client sessions
# (pk % 4 — which client inserted which rows) each read at the last ts
# THEY wrote. The session with the latest write sees the most state; an
# early-finishing session's read excludes later writers' ops.
# ---------------------------------------------------------------------------


@q(
    "session_consistency_read",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    s AS (SELECT *, pk % 4 AS session FROM ops),
    cuts AS (SELECT session AS reader, max(ts) AS g FROM s GROUP BY session),
    seen AS (
      SELECT c.reader, c.g, o.collection, o.pk, o.op_type, o.ts, o.num_rows
      FROM s o CROSS JOIN cuts c
      WHERE o.ts <= c.g
    ),
    agg AS (
      SELECT reader, g, collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS li,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS ld,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS n
      FROM seen GROUP BY 1, 2, 3, 4
    )
    SELECT reader AS session,
           CAST(g AS BIGINT) AS guarantee_ts,
           count(*) AS alive_pks,
           CAST(sum(n) AS BIGINT) AS total_inserts
    FROM agg
    WHERE li IS NOT NULL AND (ld IS NULL OR li >= ld)
    GROUP BY reader, g
    ORDER BY session
    """,
    "cdc",
    "consistency",
    "session",
    "read-your-writes",
)
def session_consistency_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True).withColumn(
        "session", F.col("pk") % 4
    )
    return consistency.read_your_writes(ops, session_ids=(0, 1, 2, 3))


# ---------------------------------------------------------------------------
# ignore_growing read (Milvus search/query param ignore_growing=True:
# skip in-memory growing segments, serve sealed data only — milvus.io
# search params). Engine shape: the same batch_to_state/is_alive path
# as growing_sealed_read, with the growing tail simply never merged.
# ---------------------------------------------------------------------------


@q(
    "ignore_growing_read",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    sealed AS (SELECT * FROM ops WHERE ts <= {SEAL_CUTOFF_TS}),
    agg AS (
      SELECT collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS last_insert_ts,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS last_delete_ts,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END)
               AS n_inserts
      FROM sealed GROUP BY collection, pk
    )
    SELECT collection,
           count(*)                       AS alive_pks,
           CAST(sum(n_inserts) AS BIGINT) AS total_inserts,
           max(last_insert_ts)            AS max_sealed_ts
    FROM agg
    WHERE last_insert_ts IS NOT NULL
      AND (last_delete_ts IS NULL OR last_insert_ts >= last_delete_ts)
    GROUP BY collection
    ORDER BY collection
    """,
    "cdc",
    "consistency",
    "ignore-growing",
)
def ignore_growing_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sealed-only read: ignore_growing skips everything past the flush
    cutoff — the growing tail is never merged into the served state."""
    from milvus_cdc_spark.streaming.pipeline import batch_to_state

    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    sealed = batch_to_state(ops.filter(F.col("ts") <= F.lit(SEAL_CUTOFF_TS)))
    return (
        sealed.filter(apply_op.is_alive())
        .groupBy("collection")
        .agg(
            F.count("*").alias("alive_pks"),
            F.sum("n_inserts").cast("bigint").alias("total_inserts"),
            F.max("last_insert_ts").alias("max_sealed_ts"),
        )
        .orderBy("collection")
    )


# ---------------------------------------------------------------------------
# P8 tombstone filtering as a data query (the pytest-only predicate made
# driver-checkable): an etcd-style kv frame synthesized from events —
# every 7th key tombstoned with the magic bytes 0xE2 0x9B 0xBC
# (core/util msgpack tombstone constant, operators/filters.py:44) — is
# screened by filters.not_tombstone; per-type kept/tombstoned counts.
# The filter is a pure scan-side predicate on the BINARY value column;
# output carries only BIGINT counts (binary never reaches the driver
# comparator).
# ---------------------------------------------------------------------------


@q(
    "tombstone_metadata_filter",
    """
    WITH kv AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN encode('⛼')
                  ELSE encode('v:' || CAST(event_id AS VARCHAR)) END AS value
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN value = encode('⛼') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tombstoned,
           CAST(sum(CASE WHEN value != encode('⛼') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM kv
    GROUP BY event_type
    ORDER BY event_type
    """,
    "cdc",
    "metadata",
    "tombstone",
)
def tombstone_metadata_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone-screened metadata counts per event type; the kept side
    flows through the SAME filters.not_tombstone predicate the catalog
    snapshot uses."""
    from milvus_cdc_spark.operators import filters

    ev = _t(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.lit("⛼").cast("binary")
        )
        .otherwise(
            F.encode(
                F.concat(F.lit("v:"), F.col("event_id").cast("string")),
                "utf-8",
            )
        )
        .alias("value"),
    )
    kept = filters.not_tombstone(kv).groupBy("event_type").agg(
        F.count("*").alias("n_kept")
    )
    total = kv.groupBy("event_type").agg(F.count("*").alias("n_total"))
    return (
        total.join(kept, "event_type", "left")
        .select(
            "event_type",
            F.col("n_total").cast("bigint"),
            (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_tombstoned"),
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("event_type")
    )
