"""The oracle-checked query suite.

One entry per operator from SURVEY.md §2 (plus the LLM-pipeline
extensions). Each entry pairs

- a Spark callable ``(spark, sf_dir) -> DataFrame`` built from the package's
  operator modules, and
- an equivalent ANSI-SQL string the DuckDB oracle runs over the same parquet
  tables,

with identical output column names (the driver's comparator sorts columns by
name and hash-compares values). Floating-point aggregates are rounded on
BOTH sides so double summation-order noise can't flip the hash.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.catalog import local_frame as _local_frame

from milvus_cdc_spark import cache_registry, catalog, oplog
from milvus_cdc_spark.functions import serde, text, ts as tsf, vector
from milvus_cdc_spark.operators import apply as apply_op
from milvus_cdc_spark.operators import barriers, filters, joins, windows


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    tags: tuple[str, ...] = field(default=())


QUERIES: dict[str, QuerySpec] = {}


def q(name: str, oracle: str | None, *tags: str):
    """Register ``fn`` as query ``name``. ``QuerySpec.fn`` is the dispatch
    point: it releases the frames this thread's previous query cached
    (``cache_registry``), then builds. The module-level name stays the
    bare function, so a query that calls another query's function never
    releases mid-build."""
    def deco(fn):
        # a duplicate name would silently shadow the earlier query in the
        # registry (and its correctness history) — fail loudly instead
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name!r}")

        @functools.wraps(fn)
        def dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
            cache_registry.release()
            return fn(spark, sf_dir)

        QUERIES[name] = QuerySpec(fn=dispatch, oracle=oracle, tags=tags)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan → filter → agg → sort).
# Exercises pushdown (shipdate filter + column pruning reach the parquet
# scan), partial+final hash aggregation, and stable ordering.
# ---------------------------------------------------------------------------


@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                       AS avg_qty,
           round(avg(l_extendedprice), 4)                                  AS avg_price,
           round(avg(l_discount), 6)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "agg",
    "flagship",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# M1: CDC replay — the reference's core question ("what rows exist downstream
# after this op-log?"), data_diff semantics max(ins_ts) >= max(del_ts)
# (server/tool/data_diff/main.go:160-174).
# ---------------------------------------------------------------------------

_ORACLE_REPLAY = f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    agg AS (
      SELECT collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS last_insert_ts,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS last_delete_ts,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS n_inserts
      FROM ops GROUP BY collection, pk
    )
    SELECT collection,
           count(*)            AS alive_pks,
           CAST(sum(n_inserts) AS BIGINT) AS total_inserts,
           max(last_insert_ts) AS max_ts
    FROM agg
    WHERE last_insert_ts IS NOT NULL
      AND (last_delete_ts IS NULL OR last_insert_ts >= last_delete_ts)
    GROUP BY collection
    ORDER BY collection
"""


@q("cdc_replay_summary", _ORACLE_REPLAY, "cdc", "agg", "conditional-agg")
def cdc_replay_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    return apply_op.replay_summary(ops)


# ---------------------------------------------------------------------------
# Bulk-drop replay: DropPartition / DropCollection travel IN the data
# stream (channel_writer.go:245-267; whitelist P1 forwards both) and
# erase their whole scope as of their ts — last-writer-wins across pk
# delete, partition drop, and collection drop, so re-inserts after a
# drop (collection recreate) stay alive. Partitions derive as pk%2; a
# 1996 partition drop hits coll_0.p_1 and a 1997 collection drop hits
# all of coll_2.
# ---------------------------------------------------------------------------

#: hybrid TSO literals: epoch_ms << 18
_PART_DROP_TS = 820454400000 << 18   # 1996-01-01
_COLL_DROP_TS = 852076800000 << 18   # 1997-01-01


@q(
    "partition_drop_replay",
    f"""
    WITH base AS ({oplog.ORACLE_OPLOG_SQL}),
    ops AS (
      SELECT ts, op_type, collection,
             'p_' || CAST(pk % 2 AS VARCHAR) AS partition, pk
      FROM base
      UNION ALL
      SELECT {_PART_DROP_TS}, 'drop_partition', 'coll_0', 'p_1', NULL
      UNION ALL
      SELECT {_COLL_DROP_TS}, 'drop_collection', 'coll_2', NULL, NULL
    ),
    agg AS (
      SELECT collection, partition, pk,
             max(CASE WHEN op_type IN ('insert', 'upsert', 'import')
                      THEN ts END) AS li,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS ld
      FROM ops
      WHERE op_type IN ('insert', 'upsert', 'import', 'delete')
      GROUP BY 1, 2, 3
    ),
    pd AS (
      SELECT collection, partition, max(ts) AS pdt
      FROM ops WHERE op_type = 'drop_partition' GROUP BY 1, 2
    ),
    cd AS (
      SELECT collection, max(ts) AS cdt
      FROM ops WHERE op_type = 'drop_collection' GROUP BY 1
    )
    SELECT a.collection, a.partition,
           CAST(count(*) AS BIGINT) AS alive_pks,
           max(a.li) AS max_ts
    FROM agg a
    LEFT JOIN pd ON a.collection = pd.collection AND a.partition = pd.partition
    LEFT JOIN cd ON a.collection = cd.collection
    WHERE a.li IS NOT NULL
      AND a.li >= greatest(coalesce(a.ld, -1), coalesce(pd.pdt, -1),
                           coalesce(cd.cdt, -1))
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "cdc",
    "bulk-drop",
    "conditional-agg",
)
def partition_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-drop-aware replay (apply.replay_alive_with_drops): ONE
    conditional-aggregate pass keyed (collection, partition, pk) + two
    broadcast joins against catalog-sized drop cutoffs read back out of
    the persisted aggregate."""
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True).withColumn(
        "partition",
        F.concat(F.lit("p_"), (F.col("pk") % 2).cast("string")),
    )
    drops = _local_frame(spark, 
        [
            (_PART_DROP_TS, "drop_partition", "default", "coll_0", "p_1",
             "ch_0", None, None, None),
            (_COLL_DROP_TS, "drop_collection", "default", "coll_2", None,
             "ch_0", None, None, None),
        ],
        "ts bigint, op_type string, db string, collection string, "
        "partition string, vchannel string, pk bigint, num_rows bigint, "
        "seq bigint",
    )
    alive = apply_op.replay_alive_with_drops(ops.unionByName(drops))
    return (
        alive.groupBy("collection", "partition")
        .agg(
            F.count("*").cast("bigint").alias("alive_pks"),
            F.max("last_insert_ts").alias("max_ts"),
        )
        .orderBy("collection", "partition")
    )


@q(
    "cdc_alive_rows",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT collection, pk,
           max(CASE WHEN op_type = 'insert' THEN ts END) AS last_insert_ts,
           CAST(sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS BIGINT) AS n_inserts
    FROM ops GROUP BY collection, pk
    HAVING max(CASE WHEN op_type = 'insert' THEN ts END) IS NOT NULL
       AND (max(CASE WHEN op_type = 'delete' THEN ts END) IS NULL
            OR max(CASE WHEN op_type = 'insert' THEN ts END)
               >= max(CASE WHEN op_type = 'delete' THEN ts END))
    """,
    "cdc",
    "agg",
)
def cdc_alive_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    return apply_op.replay_alive(ops)


# ---------------------------------------------------------------------------
# J1-J4: dimension enrichment via broadcast equi-joins.
# ---------------------------------------------------------------------------


@q(
    "dim_join_enrich",
    """
    SELECT r.r_name,
           count(*)                    AS n_customers,
           round(sum(c.c_acctbal), 2)  AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
    "join",
    "broadcast",
)
def dim_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    enriched = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        enriched.groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# J8: anti-join + full-outer reconciliation (data_diff tool).
# ---------------------------------------------------------------------------


@q(
    "anti_join_customers",
    """
    SELECT c.c_mktsegment, count(*) AS n_no_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    "join",
    "anti",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    no_orders = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_no_orders"))
        .orderBy("c_mktsegment")
    )


@q(
    "diff_reconcile",
    """
    WITH lk AS (SELECT DISTINCT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 0),
         rk AS (SELECT DISTINCT l_suppkey AS suppkey FROM lineitem WHERE l_quantity > 45)
    SELECT
      CAST(sum(CASE WHEN l.suppkey IS NOT NULL AND r.suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
      CAST(sum(CASE WHEN l.suppkey IS NULL AND r.suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only,
      CAST(sum(CASE WHEN l.suppkey IS NOT NULL AND r.suppkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
    FROM lk l FULL OUTER JOIN rk r ON l.suppkey = r.suppkey
    """,
    "join",
    "full-outer",
    "set-op",
)
def diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select(F.col("s_suppkey").alias("suppkey"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    d = joins.diff_reconcile(sup, li, "suppkey")
    return d.agg(
        F.sum(F.when(F.col("in_left") & ~F.col("in_right"), 1).otherwise(0)).alias(
            "n_left_only"
        ),
        F.sum(F.when(~F.col("in_left") & F.col("in_right"), 1).otherwise(0)).alias(
            "n_right_only"
        ),
        F.sum(F.when(F.col("in_left") & F.col("in_right"), 1).otherwise(0)).alias(
            "n_both"
        ),
    )


# ---------------------------------------------------------------------------
# J5/W4: rank-zip join (channel alignment by sorted position).
# ---------------------------------------------------------------------------


@q(
    "rank_zip_join",
    """
    WITH c AS (
      SELECT c_nationkey AS nationkey, c_custkey,
             row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rank
      FROM customer
    ),
    s AS (
      SELECT s_nationkey AS nationkey, s_suppkey,
             row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rank
      FROM supplier
    )
    SELECT c.nationkey, c.rank, c.c_custkey, s.s_suppkey
    FROM c JOIN s ON c.nationkey = s.nationkey AND c.rank = s.rank
    ORDER BY c.nationkey, c.rank
    """,
    "join",
    "window",
    "rank-zip",
)
def rank_zip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        "c_custkey",
        F.col("c_acctbal").alias("_ord"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"),
        "s_suppkey",
        F.col("s_acctbal").alias("_ord"),
    )
    cw = Window.partitionBy("nationkey").orderBy(F.col("_ord").desc(), F.col("c_custkey"))
    sw = Window.partitionBy("nationkey").orderBy(F.col("_ord").desc(), F.col("s_suppkey"))
    cr = cust.withColumn("rank", F.row_number().over(cw)).drop("_ord")
    sr = sup.withColumn("rank", F.row_number().over(sw)).drop("_ord")
    return (
        cr.join(sr, ["nationkey", "rank"], "inner")
        .select("nationkey", "rank", "c_custkey", "s_suppkey")
        .orderBy("nationkey", "rank")
    )


# ---------------------------------------------------------------------------
# W2: latest-version dedupe (repeated names keep max create-time).
# ---------------------------------------------------------------------------


@q(
    "latest_version_dedupe",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
    "window",
    "dedupe",
)
def latest_version_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    order = [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    return windows.top_k(orders, "o_custkey", order, 1, rank=None)


# ---------------------------------------------------------------------------
# W3/T2: monotonic timestamp rebase via dense_rank.
# ---------------------------------------------------------------------------


@q(
    "monotonic_rebase",
    """
    SELECT user_id, event_id,
           1000000 + dense_rank() OVER (PARTITION BY user_id ORDER BY ts) AS rebased_ts
    FROM events
    """,
    "window",
    "cdc",
)
def monotonic_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    rebased = windows.monotonic_rebase(
        ev.withColumn("base", F.lit(1000000)), ["user_id"], "ts", "base"
    )
    return rebased.select("user_id", "event_id", "rebased_ts")


# ---------------------------------------------------------------------------
# W5: lag-based gap tracking (last-sent ts).
# ---------------------------------------------------------------------------


@q(
    "lag_gap_tracking",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(avg(gap_s), 4) AS avg_gap_s,
           max(gap_s)           AS max_gap_s
    FROM (
      SELECT event_type,
             epoch_ms(ts) - epoch_ms(coalesce(lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id), ts)) AS gap_ms,
             (epoch_ms(ts) - epoch_ms(coalesce(lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id), ts))) / 1000.0 AS gap_s
      FROM events
    ) t
    GROUP BY event_type
    ORDER BY event_type
    """,
    "window",
    "lag",
)
def lag_gap_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id", F.unix_millis("ts").alias("ts_ms"), "ts"
    )
    w = Window.partitionBy("event_type").orderBy(F.col("ts"), F.col("event_id"))
    gaps = ev.withColumn(
        "gap_ms", F.col("ts_ms") - F.coalesce(F.lag("ts_ms").over(w), F.col("ts_ms"))
    ).withColumn("gap_s", F.col("gap_ms") / 1000.0)
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A1/A2: drop-barrier readiness (count-to-N across vchannels).
# ---------------------------------------------------------------------------


@q(
    "barrier_ready",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    signals AS (
      SELECT DISTINCT pk % 53 AS object_id, vchannel
      FROM ops WHERE op_type = 'delete'
    )
    SELECT object_id,
           count(*) AS n_ready,
           count(*) = 4 AS is_ready
    FROM signals
    GROUP BY object_id
    ORDER BY object_id
    """,
    "agg",
    "barrier",
    "cdc",
)
def barrier_ready(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    drops = ops.filter(F.col("op_type") == "delete").withColumn(
        "object_id", F.col("pk") % 53
    )
    status = barriers.barrier_status(
        drops.select("object_id", "vchannel").distinct(),
        ["object_id"],
        expected=oplog.N_VCHANNELS,
    )
    return status.select("object_id", "n_ready", "is_ready").orderBy("object_id")


# ---------------------------------------------------------------------------
# T11: tumbling event-time window aggregation.
# ---------------------------------------------------------------------------


@q(
    "tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "window-agg",
    "streaming-analog",
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Top-k (TakeOrderedAndProject) — absent in reference, free in Spark.
# ---------------------------------------------------------------------------


@q(
    "topk_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    "sort",
    "limit",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# §2.8 scalar functions: hybrid-TSO math, base64 positions, string splitting.
# ---------------------------------------------------------------------------


@q(
    "scalar_funcs",
    """
    SELECT event_id,
           (epoch_ms(ts) << 18) + (event_id % 262144)                    AS hybrid_ts,
           ((epoch_ms(ts) << 18) + (event_id % 262144)) >> 18            AS physical_ms,
           to_base64(('ch_' || CAST(user_id % 4 AS VARCHAR) || ':' ||
                      CAST(event_id AS VARCHAR))::BLOB)                  AS position,
           split_part('dml_' || CAST(user_id AS VARCHAR) || '_v' ||
                      CAST(event_id % 2 AS VARCHAR), '_', 1)             AS channel_prefix
    FROM events
    WHERE event_id < 100
    ORDER BY event_id
    """,
    "scalar",
    "serde",
)
def scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 100)
    hybrid = tsf.compose_ts(F.unix_millis("ts"), F.col("event_id") % 262144)
    channel = F.concat(F.lit("ch_"), (F.col("user_id") % 4).cast("string"))
    return ev.select(
        "event_id",
        hybrid.alias("hybrid_ts"),
        tsf.physical_ms(hybrid).alias("physical_ms"),
        serde.encode_position(channel, F.col("event_id")).alias("position"),
        F.substring_index(
            F.concat(
                F.lit("dml_"),
                F.col("user_id").cast("string"),
                F.lit("_v"),
                (F.col("event_id") % 2).cast("string"),
            ),
            "_",
            1,
        ).alias("channel_prefix"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# P1/P2: msg-type whitelist + collection name filter with exclusions.
# ---------------------------------------------------------------------------


@q(
    "filtered_oplog_counts",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT collection, op_type, count(*) AS n
    FROM ops
    WHERE op_type IN ('insert','delete','drop_collection','drop_partition','import')
      AND collection IN ('coll_0','coll_1')
      AND collection NOT IN ('coll_1')
    GROUP BY collection, op_type
    ORDER BY collection, op_type
    """,
    "filter",
    "cdc",
)
def filtered_oplog_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    filtered = filters.msg_type_whitelist(ops).filter(
        filters.collection_filter_predicate(["coll_0", "coll_1"], ["coll_1"])
    )
    return (
        filtered.groupBy("collection", "op_type")
        .agg(F.count("*").alias("n"))
        .orderBy("collection", "op_type")
    )


# ---------------------------------------------------------------------------
# T11: session windows (30-min inactivity gap per user).
# Spark: session_window(); oracle: classic gaps-and-islands SQL. Spark's
# session end = last event + gap, mirrored in the oracle.
# ---------------------------------------------------------------------------


@q(
    "session_window_agg",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           min(ts)                         AS session_start,
           max(ts) + INTERVAL 30 MINUTE    AS session_end,
           count(*)                        AS n_events,
           round(sum(value), 2)            AS total_value
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    "window-agg",
    "session",
    "streaming-analog",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Rollup / grouping sets (absent in reference; Catalyst freebie, SURVEY §2.5).
# ---------------------------------------------------------------------------


@q(
    "rollup_region_nation",
    """
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    ORDER BY r.r_name NULLS FIRST, n.n_name NULLS FIRST
    """,
    "agg",
    "rollup",
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7): except / intersect / union over key sets.
# ---------------------------------------------------------------------------


@q(
    "set_ops_nations",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
    SELECT 'customer_only' AS side, count(*) AS n FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
    UNION ALL
    SELECT 'both' AS side, count(*) AS n FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
    UNION ALL
    SELECT 'union' AS side, count(*) AS n FROM (SELECT * FROM cn UNION SELECT * FROM sn)
    ORDER BY side
    """,
    "set-op",
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    sn = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    rows = [
        cn.exceptAll(sn).agg(F.count("*").alias("n")).withColumn("side", F.lit("customer_only")),
        cn.intersect(sn).agg(F.count("*").alias("n")).withColumn("side", F.lit("both")),
        cn.union(sn).distinct().agg(F.count("*").alias("n")).withColumn("side", F.lit("union")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out.select("side", "n").orderBy("side")


# ---------------------------------------------------------------------------
# Semi join (exists) — P2 exclusion lists are anti/semi joins at heart.
# ---------------------------------------------------------------------------


@q(
    "semi_join_active_customers",
    """
    SELECT n.n_name, count(*) AS n_active
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 40000)
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    "join",
    "semi",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 40000)
    active = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    return (
        active.join(F.broadcast(nation), active.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_active"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# J7/P9: as-of lifetime join — ops apply only while the object is alive.
# Lifetimes are a small derived dimension (broadcast); events is the big side.
# ---------------------------------------------------------------------------

_ORACLE_LIFETIME = f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    lifetimes AS (
      SELECT collection,
             min(ts) AS create_ts,
             CASE WHEN collection = 'coll_1'
                  THEN min(ts) + (max(ts) - min(ts)) // 2
                  ELSE NULL END AS drop_ts
      FROM ops GROUP BY collection
    )
    SELECT o.collection, o.op_type, count(*) AS n_applied
    FROM ops o JOIN lifetimes l
      ON o.collection = l.collection
     AND o.ts >= l.create_ts
     AND o.ts < coalesce(l.drop_ts, 4611686018427387904)
    GROUP BY o.collection, o.op_type
    ORDER BY o.collection, o.op_type
"""


@q("lifetime_asof_apply", _ORACLE_LIFETIME, "join", "range", "cdc")
def lifetime_asof_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    lifetimes = ops.groupBy("collection").agg(
        F.min("ts").alias("create_ts"),
        F.when(
            F.col("collection") == "coll_1",
            (F.min("ts") + F.floor((F.max("ts") - F.min("ts")) / 2)).cast("bigint"),
        ).alias("drop_ts"),
    )
    joined = joins.lifetime_asof_join(ops, lifetimes, "collection")
    return (
        joined.groupBy(F.col("e.collection").alias("collection"), "op_type")
        .agg(F.count("*").alias("n_applied"))
        .orderBy("collection", "op_type")
    )


# ---------------------------------------------------------------------------
# P4/P5: db/collection name + ID remapping via a mapping dimension
# (channel_writer.go:1208-1226 mapDBAndCollectionName; coalesce(mapped,
# original) keeps unmapped names).
# ---------------------------------------------------------------------------


@q(
    "name_remap",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    mapping(src, dst) AS (VALUES ('coll_0', 'coll_zero'), ('coll_2', 'coll_two'))
    SELECT coalesce(m.dst, o.collection) AS target_collection,
           count(*) AS n_ops,
           CAST(sum(num_rows) AS BIGINT) AS n_rows
    FROM ops o LEFT JOIN mapping m ON o.collection = m.src
    GROUP BY 1
    ORDER BY 1
    """,
    "projection",
    "remap",
    "cdc",
)
def name_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    mapping = _local_frame(spark, 
        [("coll_0", "coll_zero"), ("coll_2", "coll_two")], "src string, dst string"
    )
    remapped = ops.join(F.broadcast(mapping), ops.collection == mapping.src, "left")
    return (
        remapped.withColumn("target_collection", F.coalesce("dst", "collection"))
        .groupBy("target_collection")
        .agg(F.count("*").alias("n_ops"), F.sum("num_rows").alias("n_rows"))
        .orderBy("target_collection")
    )


@q(
    "db_scoped_remap",
    f"""
    WITH ops0 AS ({oplog.ORACLE_OPLOG_SQL}),
    ops AS (SELECT * REPLACE ('db_' || CAST(pk % 2 AS VARCHAR) AS db) FROM ops0),
    filtered AS (
      SELECT * FROM ops
      WHERE (db = 'db_0' OR (db = 'db_1' AND collection = 'coll_1'))
        AND NOT (db = 'db_0' AND collection = 'coll_2')
    )
    SELECT CASE WHEN db = 'db_1' AND collection = 'coll_1' THEN 'db_one'
                WHEN db = 'db_0' THEN 'db_zero' ELSE db END AS target_db,
           CASE WHEN db = 'db_1' AND collection = 'coll_1' THEN 'coll_first'
                ELSE collection END AS target_collection,
           count(*) AS n_ops,
           CAST(sum(num_rows) AS BIGINT) AS n_rows
    FROM filtered GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "projection",
    "remap",
    "control",
    "cdc",
)
def db_scoped_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DB scoping + db-wildcard remap in one pass (TaskInfo.DBCollections,
    task.go:67; NameMapping db-level '*', common.go:83-87, applied at
    channel_writer.go:1208-1226): include {db_0: *, db_1: coll_1}, exclude
    db_0.coll_2, then remap db_0.* → db_zero.* (db-wildcard) and
    db_1.coll_1 → db_one.coll_first (exact). Filter is a pushed-down
    Catalyst predicate; both remap rules are broadcast joins."""
    from milvus_cdc_spark.operators import remap

    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem")).withColumn(
        "db", F.concat(F.lit("db_"), (F.col("pk") % 2).cast("string"))
    )
    pred = filters.collection_filter_predicate(
        ["db_0.*", "db_1.coll_1"], ["db_0.coll_2"], db_col="db"
    )
    mapping = remap.name_mapping_df(
        spark,
        [
            {"source_db": "db_0", "target_db": "db_zero"},
            {"source_db": "db_1", "target_db": "db_one",
             "collections": {"coll_1": "coll_first"}},
        ],
    )
    return (
        remap.map_db_and_collection(ops.filter(pred), mapping)
        .groupBy("target_db", "target_collection")
        .agg(
            F.count("*").alias("n_ops"),
            F.sum("num_rows").cast("bigint").alias("n_rows"),
        )
        .orderBy("target_db", "target_collection")
    )


# ---------------------------------------------------------------------------
# A3/A4: per-channel max-ts (watermark currency) + global min across channels.
# ---------------------------------------------------------------------------

_ORACLE_WATERMARK = f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    per_channel AS (
      SELECT vchannel, max(ts) AS channel_max_ts, count(*) AS n_msgs
      FROM ops GROUP BY vchannel
    )
    SELECT vchannel, channel_max_ts, n_msgs,
           min(channel_max_ts) OVER () AS global_min_ts
    FROM per_channel
    ORDER BY vchannel
"""


@q("watermark_ts", _ORACLE_WATERMARK, "agg", "watermark", "cdc")
def watermark_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel max ts + the global min across channels (A3/A4).

    The global min is an empty-partitionBy window over the per-channel
    aggregate — a SinglePartition pass over ONE ROW PER VCHANNEL, i.e.
    catalog-sized at any corpus scale (channels are deployment config).
    This is the audited catalog-keyed-aggregate class
    (plans/audit._CATALOG_KEY_COLS): the r12 full gate sweep first
    flagged it, a scalar-augment cross reshape was measured to cost a
    SECOND corpus scan (column pruning gives the two aggregate branches
    different partial aggregates, so ReusedExchange cannot fire), and
    the one-scan window shape won — the audit now carries the catalog
    knowledge instead."""
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    per_channel = ops.groupBy("vchannel").agg(
        F.max("ts").alias("channel_max_ts"), F.count("*").alias("n_msgs")
    )
    return per_channel.withColumn(
        "global_min_ts", F.min("channel_max_ts").over(Window.partitionBy())
    ).orderBy("vchannel")


# ---------------------------------------------------------------------------
# A5/A6: metrics counters — rows/bytes per (collection, op_type)
# (server/metrics/metrics.go:119-128 ReplicateDataCntVec/SizeVec).
# ---------------------------------------------------------------------------


@q(
    "metrics_counters",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT collection, op_type,
           count(*)       AS n_msgs,
           CAST(sum(num_rows) AS BIGINT)  AS n_rows,
           CAST(sum(pk % 1000) AS BIGINT) AS approx_bytes
    FROM ops
    GROUP BY collection, op_type
    ORDER BY collection, op_type
    """,
    "agg",
    "metrics",
)
def metrics_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    return (
        ops.groupBy("collection", "op_type")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("num_rows").alias("n_rows"),
            F.sum(F.col("pk") % 1000).alias("approx_bytes"),
        )
        .orderBy("collection", "op_type")
    )


# ---------------------------------------------------------------------------
# msg_count tool surface (server/tool/msg_count/main.go): per-channel
# accounting — type counts, NumRows-summed insert/delete totals, end
# position. The driver-checked projection drops the type_counts map and
# the derived end_time timestamp (map cells break the canonicalizer);
# both are covered by the tool's unit test.
# ---------------------------------------------------------------------------


@q(
    "channel_msg_counts",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT vchannel,
           count(*) AS n_msgs,
           CAST(sum(CASE WHEN op_type IN ('insert', 'upsert', 'import')
                         THEN num_rows ELSE 0 END) AS BIGINT) AS insert_count,
           CAST(sum(CASE WHEN op_type = 'delete'
                         THEN num_rows ELSE 0 END) AS BIGINT) AS delete_count,
           max(ts) AS end_ts
    FROM ops
    GROUP BY vchannel
    ORDER BY vchannel
    """,
    "cdc",
    "metrics",
    "tool",
)
def channel_msg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """msg_count analog over the derived op-log: one scan, one
    control-sized aggregation keyed by (vchannel, op_type)
    (control/msgcount.count_messages; main.go:419+ MsgCount)."""
    from milvus_cdc_spark.control import msgcount

    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    return (
        msgcount.count_messages(spark, ops)
        .select("vchannel", "n_msgs", "insert_count", "delete_count", "end_ts")
        .orderBy("vchannel")
    )


# ---------------------------------------------------------------------------
# A2: ready-set equality — sorted channel arrays compared to the full set
# (task_msg.go:44-56 IsReady = TargetChannels == ReadyChannels as sets).
# ---------------------------------------------------------------------------


@q(
    "ready_set_equality",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    ready AS (
      SELECT collection,
             array_to_string(list_sort(list(DISTINCT vchannel)), ',') AS ready_channels
      FROM ops WHERE op_type = 'delete'
      GROUP BY collection
    ),
    target AS (
      SELECT collection,
             array_to_string(list_sort(list(DISTINCT vchannel)), ',') AS target_channels
      FROM ops GROUP BY collection
    )
    SELECT r.collection, r.ready_channels, t.target_channels,
           r.ready_channels = t.target_channels AS is_ready
    FROM ready r JOIN target t ON r.collection = t.collection
    ORDER BY r.collection
    """,
    "agg",
    "barrier",
    "array",
)
def ready_set_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    # String-join the channel sets: the equality semantics are identical and
    # the flat string survives any pandas/hash canonicalizer (arrays do not).
    ready = (
        ops.filter(F.col("op_type") == "delete")
        .groupBy("collection")
        .agg(
            F.array_join(F.array_sort(F.collect_set("vchannel")), ",").alias(
                "ready_channels"
            )
        )
    )
    target = ops.groupBy("collection").agg(
        F.array_join(F.array_sort(F.collect_set("vchannel")), ",").alias(
            "target_channels"
        )
    )
    return (
        ready.join(target, "collection")
        .withColumn("is_ready", F.col("ready_channels") == F.col("target_channels"))
        .orderBy("collection")
    )


# ---------------------------------------------------------------------------
# K3/K4: Kafka JSON envelope — every op rendered as {"data":…,"info":…}
# (kafka_handler.go:282-324, kafka_formatter.go:40-87).
# ---------------------------------------------------------------------------


@q(
    "kafka_envelope",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT to_json({{'data': {{'collection': collection, 'pk': pk}},
                    'info': {{'op_type': op_type, 'ts': ts}}}}) AS value
    FROM ops WHERE pk % 997 = 0
    ORDER BY value
    """,
    "serde",
    "sink",
)
def kafka_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem")).filter(
        F.col("pk") % 997 == 0
    )
    payload = F.to_json(
        F.struct(
            F.struct(F.col("collection"), F.col("pk")).alias("data"),
            F.struct(F.col("op_type"), F.col("ts")).alias("info"),
        )
    )
    return ops.select(payload.alias("value")).orderBy("value")


# ---------------------------------------------------------------------------
# W1: in-pack stable sort with delete-before-insert tie-break, verified by
# reconstructing the per-channel apply order (first 200 ops per channel).
# ---------------------------------------------------------------------------


@q(
    "pack_sort_order",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT vchannel, apply_rank, ts, op_type, pk
    FROM (
      SELECT vchannel, ts, op_type, pk,
             row_number() OVER (
               PARTITION BY vchannel
               ORDER BY ts, CASE WHEN op_type = 'delete' THEN 0 ELSE 1 END, pk
             ) AS apply_rank
      FROM ops
    ) t
    WHERE apply_rank <= 200
    ORDER BY vchannel, apply_rank
    """,
    "window",
    "sort",
    "cdc",
)
def pack_sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"), widen=True)
    order = [*windows.pack_sort_keys(), F.col("pk")]
    return (
        windows.top_k(ops, "vchannel", order, 200, rank="apply_rank")
        .select("vchannel", "apply_rank", "ts", "op_type", "pk")
        .orderBy("vchannel", "apply_rank")
    )


# ===========================================================================
# LLM-data-pipeline operators (north star): dedup, similarity, text analysis,
# multimodal plumbing. All portable-hash based (md5) so DuckDB oracles verify
# them exactly.
# ===========================================================================

#: DuckDB shingle-set expression (word 3-grams, distinct, sorted) — mirrors
#: functions.text.shingles.
_SQL_SHINGLES = """
      list_sort(list_distinct(
        CASE WHEN len(toks) - 2 > 0
             THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END))
"""

_SQL_TOKS = """
      list_filter(string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')
"""


@q(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           min(doc_id) AS canonical_id,
           count(*)    AS n_docs
    FROM documents
    GROUP BY 1
    """,
    "dedup",
    "llm",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import dedup

    return dedup.fingerprint_dedup(_t(spark, sf_dir, "documents"))


_ORACLE_MINHASH_BANDS = f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM base
    ),
    sig AS (
      SELECT doc_id, [
        list_min(list_transform(shingles, s -> md5('0:' || s))),
        list_min(list_transform(shingles, s -> md5('1:' || s))),
        list_min(list_transform(shingles, s -> md5('2:' || s))),
        list_min(list_transform(shingles, s -> md5('3:' || s))),
        list_min(list_transform(shingles, s -> md5('4:' || s))),
        list_min(list_transform(shingles, s -> md5('5:' || s))),
        list_min(list_transform(shingles, s -> md5('6:' || s))),
        list_min(list_transform(shingles, s -> md5('7:' || s)))
      ] AS sig FROM sh
    )
    SELECT doc_id, band_id,
           md5(array_to_string(sig[band_id*2+1:band_id*2+2], '|')) AS band_key
    FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id)
    ORDER BY doc_id, band_id
"""


@q("minhash_bands", _ORACLE_MINHASH_BANDS, "dedup", "minhash", "llm")
def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_bands(docs, k=8, bands=4).orderBy("doc_id", "band_id")


_ORACLE_NEAR_DUP = f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM base
    ),
    sig AS (
      SELECT doc_id, shingles, [
        list_min(list_transform(shingles, s -> md5('0:' || s))),
        list_min(list_transform(shingles, s -> md5('1:' || s))),
        list_min(list_transform(shingles, s -> md5('2:' || s))),
        list_min(list_transform(shingles, s -> md5('3:' || s))),
        list_min(list_transform(shingles, s -> md5('4:' || s))),
        list_min(list_transform(shingles, s -> md5('5:' || s))),
        list_min(list_transform(shingles, s -> md5('6:' || s))),
        list_min(list_transform(shingles, s -> md5('7:' || s)))
      ] AS sig FROM sh
    ),
    bands AS (
      SELECT doc_id, shingles, band_id,
             md5(array_to_string(sig[band_id*2+1:band_id*2+2], '|')) AS band_key
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id)
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_key = y.band_key
       AND x.doc_id < y.doc_id
    )
    SELECT p.a, p.b,
           round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                 / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1),
                 6) AS jaccard
    FROM pairs p
    JOIN sh sa ON p.a = sa.doc_id
    JOIN sh sb ON p.b = sb.doc_id
    ORDER BY p.a, p.b
"""


@q("near_dup_pairs", _ORACLE_NEAR_DUP, "dedup", "minhash", "jaccard", "llm")
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dup_pipeline(docs, k=8, bands=4).orderBy("a", "b")


#: The pair CTE chain shared by near_dup_pairs and the cluster query.
_ORACLE_NEAR_DUP_PAIRS_CTE = _ORACLE_NEAR_DUP.split("SELECT p.a, p.b,")[0]


@q(
    "near_dup_clusters",
    (_ORACLE_NEAR_DUP_PAIRS_CTE
    + """,
    jac AS (
      SELECT p.a, p.b,
             round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                   / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1),
                   6) AS jaccard
      FROM pairs p
      JOIN sh sa ON p.a = sa.doc_id
      JOIN sh sb ON p.b = sb.doc_id
    ),
    strong AS (SELECT a, b FROM jac WHERE jaccard >= 0.2),
    edges AS (SELECT a AS src, b AS dst FROM strong
              UNION SELECT b, a FROM strong),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
    SELECT component AS canonical_id,
           count(*) AS cluster_size,
           CAST(max(node) AS BIGINT) AS max_member
    FROM comp GROUP BY component ORDER BY component
    """).replace("WITH base AS (", "WITH RECURSIVE base AS (", 1),
    "dedup",
    "clustering",
    "connected-components",
    "llm",
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: verified-Jaccard pairs (>= 0.2)
    → connected components by min-label propagation
    (dedup.connected_components, the Pregel pattern) → one row per
    cluster with the canonical (min) member as its id. The dedup action
    at 100 TB is 'keep canonical, drop the rest' per cluster; the oracle
    computes the identical components with a recursive CTE."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    strong = dedup.near_dup_pipeline(docs, k=8, bands=4).filter(
        F.col("jaccard") >= 0.2
    )
    # pair-graph frames are tiny next to the corpus default — narrow
    # shuffles for the iteration (measured ~15% total win at sf0.1)
    comp = dedup.connected_components(strong, shuffle_partitions=8)
    return (
        comp.groupBy(F.col("component").alias("canonical_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.max("node").alias("max_member"),
        )
        .orderBy("canonical_id")
    )


@q(
    "dedup_savings_report",
    (_ORACLE_NEAR_DUP_PAIRS_CTE
    + """,
    jac AS (
      SELECT p.a, p.b,
             round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE
                   / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1),
                   6) AS jaccard
      FROM pairs p
      JOIN sh sa ON p.a = sa.doc_id
      JOIN sh sb ON p.b = sb.doc_id
    ),
    strong AS (SELECT a, b FROM jac WHERE jaccard >= 0.2),
    edges AS (SELECT a AS src, b AS dst FROM strong
              UNION SELECT b, a FROM strong),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.dst AS node, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
    dropped AS (SELECT node FROM comp WHERE node != component)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dr.node IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN dr.node IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN dr.node IS NOT NULL THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped,
           CAST(sum(CASE WHEN dr.node IS NOT NULL THEN d.n_chars ELSE 0 END)
                * 1000000 // sum(d.n_chars) AS BIGINT) AS savings_ppm
    FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.node
    """).replace("WITH base AS (", "WITH RECURSIVE base AS (", 1),
    "dedup",
    "clustering",
    "report",
    "llm",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION quantified: near-dup clusters -> keep the
    canonical member per component, drop the rest -> corpus-level
    doc/byte savings. The drop set is pair-graph-sized, so it broadcasts
    onto the corpus scan; singletons never enter any join."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    strong = dedup.near_dup_pipeline(docs, k=8, bands=4).filter(
        F.col("jaccard") >= 0.2
    )
    comp = dedup.connected_components(strong, shuffle_partitions=8)
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("_drop_id")
    )
    joined = docs.join(
        F.broadcast(drop), docs["doc_id"] == drop["_drop_id"], "left"
    )
    is_drop = F.col("_drop_id").isNotNull()
    return joined.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(is_drop.cast("int")).cast("bigint").alias("n_dropped"),
        F.sum((~is_drop).cast("int")).cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum(F.when(is_drop, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_dropped"),
        F.expr(
            "sum(CASE WHEN _drop_id IS NOT NULL THEN n_chars ELSE 0 END) "
            "* 1000000 DIV sum(n_chars)"
        )
        .cast("bigint")
        .alias("savings_ppm"),
    )


@q(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS toks,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS ltoks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(string_split_regex(text, '[^0-9A-Za-z_]+'), x -> x != '')) AS n_words,
           round(length(regexp_replace(text, '[0-9A-Za-z_ \\t\\n\\r]', '', 'g'))::DOUBLE
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(len(list_filter(ltoks, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                 / greatest(len(ltoks), 1), 6) AS stopword_ratio
    FROM t
    ORDER BY doc_id
    """,
    "text",
    "llm",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        text.word_token_count(t).alias("n_words"),
        F.round(text.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(text.stopword_ratio(t), 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Milvus analyzer surface (analyzer_params: standard / whitespace /
# english — milvus.io Analyzer docs). Per-analyzer token totals and
# distinct-term counts over the corpus; english = standard + Lucene
# classic stop set + Porter step-1a plural folding (functions.text.analyze
# documents the full-stemmer divergence).
# ---------------------------------------------------------------------------

_SQL_STOPLIST = ", ".join(f"'{w}'" for w in text.ENGLISH_STOPWORDS)


@q(
    "analyzer_token_stats",
    f"""
    WITH docs AS (SELECT doc_id, text FROM documents),
    std AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               t -> t <> '')) AS term
      FROM docs
    ),
    ws AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS term
      FROM docs
    ),
    en AS (
      SELECT CASE
               WHEN term LIKE '%sses' THEN substring(term, 1, length(term) - 2)
               WHEN term LIKE '%ies'  THEN substring(term, 1, length(term) - 2)
               WHEN term LIKE '%ss'   THEN term
               WHEN term LIKE '%s' AND length(term) > 1
                 THEN substring(term, 1, length(term) - 1)
               ELSE term
             END AS term
      FROM std WHERE term NOT IN ({_SQL_STOPLIST})
    )
    SELECT 'english' AS analyzer, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS n_terms FROM en
    UNION ALL
    SELECT 'standard', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT term) AS BIGINT) FROM std
    UNION ALL
    SELECT 'whitespace', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT term) AS BIGINT) FROM ws
    ORDER BY analyzer
    """,
    "text",
    "analyzer",
    "llm",
)
def analyzer_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-analyzer corpus stats via functions.text.analyze — each
    variant is one explode + one aggregate, all JVM-side."""
    docs = _t(spark, sf_dir, "documents")
    parts = []
    for name in ("english", "standard", "whitespace"):
        toks = docs.select(
            F.explode(text.analyze(F.col("text"), name)).alias("term")
        )
        parts.append(
            toks.agg(
                F.count("*").cast("bigint").alias("n_tokens"),
                F.countDistinct("term").cast("bigint").alias("n_terms"),
            ).select(F.lit(name).alias("analyzer"), "n_tokens", "n_terms")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("analyzer")


@q(
    "lang_detect",
    """
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS toks
      FROM documents
    ),
    hits AS (
      SELECT doc_id, lang,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x))) AS h_en,
             len(list_filter(toks, x -> list_contains(['el','la','de','y','que'], x)))  AS h_es,
             len(list_filter(toks, x -> list_contains(['le','la','et','les','des'], x))) AS h_fr,
             len(list_filter(toks, x -> list_contains(['der','die','und','das','ist'], x))) AS h_de,
             len(list_filter(toks, x -> list_contains(['的','是','了','在','和'], x))) AS h_zh
      FROM t
    ),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(h_en,h_es,h_fr,h_de,h_zh) = 0 THEN 'und'
                  WHEN h_en = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'en'
                  WHEN h_es = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'es'
                  WHEN h_fr = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'fr'
                  WHEN h_de = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'de'
                  ELSE 'zh' END AS predicted
      FROM hits
    )
    SELECT lang, predicted, count(*) AS n
    FROM pred GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
    "text",
    "llm",
)
def lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.detect_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force cosine top-k + IVF-style sign-bucket
# approximate variant (both exactly oracle-checkable because the bucketing
# rule is deterministic and portable).
# ---------------------------------------------------------------------------

_SQL_COSINE = """
  round(
    list_sum(list_transform(list_zip(c.embedding::DOUBLE[], q.embedding::DOUBLE[]),
                            p -> p[1] * p[2]))
    / (sqrt(list_sum(list_transform(c.embedding::DOUBLE[], x -> x * x)))
       * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))),
    6)
"""


@q(
    "cosine_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, sim
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "similarity",
    "llm",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=3).orderBy("query_id", "rank")


@q(
    "ann_bucketed_topk",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM b c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, sim
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "similarity",
    "ann",
    "llm",
)
def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.bucketed_topk(emb, queries, k=3, n_bits=4).orderBy(
        "query_id", "rank"
    )


@q(
    "ann_recall",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id < 10),
    exact_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM b c, q WHERE c.vec_id != q.vec_id
    ),
    exact_ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM exact_scored
    ),
    exact_k AS (SELECT query_id, neighbor_id FROM exact_ranked WHERE rank <= 3),
    approx_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM b c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id != q.vec_id
    ),
    approx_ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM approx_scored
    ),
    approx_k AS (SELECT query_id, neighbor_id FROM approx_ranked WHERE rank <= 3)
    SELECT e.query_id,
           round(count(a.neighbor_id) / count(*), 6) AS recall
    FROM exact_k e LEFT JOIN approx_k a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    "vector",
    "similarity",
    "ann",
    "recall",
    "llm",
)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the sign-bucketed ANN against exact brute force — the
    accuracy/cost dial every ANN deployment must report."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    approx = similarity.bucketed_topk(emb, queries, k=3, n_bits=4)
    return (
        similarity.recall_at_k(exact, approx)
        .select("query_id", "recall")
        .orderBy("query_id")
    )


@q(
    "ivf_topk",
    f"""
    WITH cen AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id BETWEEN 100 AND 115
    ),
    corpus_assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, q.centroid_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_SQL_COSINE} DESC, q.centroid_id
               ) AS r
        FROM embeddings c, (SELECT centroid_id, embedding FROM cen) q
      ) WHERE r = 1
    ),
    query_assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, q.centroid_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {_SQL_COSINE} DESC, q.centroid_id
               ) AS r
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) c,
             (SELECT centroid_id, embedding FROM cen) q
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c
      JOIN corpus_assign ca ON c.vec_id = ca.vec_id
      JOIN query_assign qa ON ca.centroid_id = qa.centroid_id
      JOIN embeddings q ON q.vec_id = qa.vec_id
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, sim
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "similarity",
    "ann",
    "ivf",
    "llm",
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based IVF: corpus vectors live in nearest-centroid lists,
    queries probe their 2 nearest lists. Centroids are a fixed slice of
    the corpus (stand-in for offline kMeans) so the operator stays
    deterministic and exactly oracle-checkable."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.partitioning import widen_small_scan

    emb = widen_small_scan(_t(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = emb.filter(F.col("vec_id").between(100, 115))
    return similarity.ivf_topk(emb, queries, centroids, k=3, n_probe=2).orderBy(
        "query_id", "rank"
    )


@q(
    "sliding_window_agg",
    """
    WITH expanded AS (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
               AS window_start
      FROM events
    )
    SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM expanded
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "streaming",
    "window-agg",
    "sliding",
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide) — each event lands in two
    overlapping windows (T11). The oracle expands each row into its two
    window starts; Spark's window() does the same expansion internally."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@q(
    "embedding_stats",
    """
    SELECT label,
           count(*) AS n_vectors,
           round(avg(round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)), 4) AS avg_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
    "vector",
    "agg",
    "llm",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.avg(F.round(vector.norm(F.col("embedding")), 6)), 4).alias(
                "avg_norm"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payload → mapInPandas feature extraction
# (Arrow batches). The "decoder" is a deterministic stub; the schema /
# batch-shape / partition plumbing is real and oracle-checked.
# ---------------------------------------------------------------------------


@q(
    "multimodal_features",
    """
    SELECT doc_id,
           'image/fake' AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    ORDER BY doc_id
    """,
    "multimodal",
    "pandas-udf",
    "llm",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.as_media_table(docs)
    return multimodal.extract_features(media).orderBy("doc_id")


# ===========================================================================
# Structured Streaming queries — executed as real streams (availableNow) and
# still oracle-checked: incremental processing must converge to the batch
# answer, which is exactly the reference's e2e test oracle ("downstream
# equals upstream", tests/testcases/test_cdc_sync_requests.py:111-124).
# ===========================================================================


def _write_oplog_files(spark: SparkSession, sf_dir: str, out_dir: str | None = None, n_files: int = 8) -> str:
    """Materialize the derived op-log as n parquet files so the file source
    produces multiple microbatches (files_per_trigger=4 → 2 batches).
    Returns the staged directory. With ``out_dir=None`` it is
    ``catalog.staged`` per (sf_dir, n_files): the op-log is deterministic,
    so one process stages it once (~2-4 s at sf0.1). A caller's
    ``out_dir`` (perfbench's staging) is written every call: its owner
    may delete or rewrite it in place (ADVICE r13)."""

    def write(path: str) -> None:
        # widen=True: the md5/concat/timestamp derivation otherwise runs
        # inside the single-split lineitem scan stage before the round-robin
        # exchange (r14 A/B: staging write 1.8-5.0 s plain vs 1.1-2.1 s
        # widened at sf0.1, alternating trials)
        ops = oplog.derive_oplog(
            catalog.load_table(spark, sf_dir, "lineitem"), widen=True
        )
        ops.repartition(n_files).write.mode("overwrite").parquet(path)

    if out_dir is None:
        return catalog.staged(("oplog_stage", sf_dir, n_files), write)
    write(out_dir)
    return out_dir


@q(
    "streaming_cdc_apply",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    agg AS (
      SELECT collection, pk,
             max(CASE WHEN op_type = 'insert' THEN ts END) AS last_insert_ts,
             max(CASE WHEN op_type = 'delete' THEN ts END) AS last_delete_ts,
             sum(CASE WHEN op_type = 'insert' THEN num_rows ELSE 0 END) AS n_inserts
      FROM ops GROUP BY collection, pk
    )
    SELECT collection, count(*) AS alive_pks, CAST(sum(n_inserts) AS BIGINT) AS total_inserts
    FROM agg
    WHERE last_insert_ts IS NOT NULL
      AND (last_delete_ts IS NULL OR last_insert_ts >= last_delete_ts)
    GROUP BY collection
    ORDER BY collection
    """,
    "streaming",
    "cdc",
    "foreachBatch",
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the actual streaming pipeline (file source → foreachBatch
    merge-apply over ≥2 microbatches) and report the converged state."""
    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    src = _write_oplog_files(spark, sf_dir)  # staged once per process
    pipe = CdcApplyPipeline(spark, src, catalog.scratch_dir("cdc_stream_"))
    pipe.run_available_now()
    return (
        pipe.alive()
        .groupBy("collection")
        .agg(F.count("*").alias("alive_pks"), F.sum("n_inserts").alias("total_inserts"))
        .orderBy("collection")
    )


@q(
    "streaming_positions",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT vchannel, max(ts) AS position_ts
    FROM ops
    WHERE op_type IN ('insert','delete','drop_collection','drop_partition','import')
    GROUP BY vchannel
    ORDER BY vchannel
    """,
    "streaming",
    "cdc",
    "checkpoint",
)
def streaming_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positions written back per microbatch must converge to the global
    per-channel max ts (K6/T6 semantics)."""
    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    src = _write_oplog_files(spark, sf_dir)  # staged once per process
    pipe = CdcApplyPipeline(spark, src, catalog.scratch_dir("cdc_pos_"))
    pipe.run_available_now()
    return pipe.positions().orderBy("vchannel")


@q(
    "streaming_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "streaming",
    "window-agg",
    "watermark",
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed as a real stream: file source
    over events, watermark + window groupBy, complete-mode memory sink.
    Late-data tolerance: watermark of 1 day ≫ max disorder in the fixture,
    so nothing is dropped and the result equals the batch oracle."""
    # stage normalized events into a directory (file stream sources read
    # directories; also converts the nanos timestamps once), staged once
    # per process through ``catalog.staged`` (suite_streaming_ext
    # ._stage_events): the layout (4 files, deterministic content) is the
    # other event-stream queries', so they all read one fixture
    from milvus_cdc_spark.suite_streaming_ext import _stage_events

    stage, ev = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    # drain via the shared memory-sink helper (state partitions sized per
    # stream, not the batch-tuned 32 — see _run_to_memory; r14 A/B 8 -> 4
    # below)
    from milvus_cdc_spark.suite_streaming_ext import _run_to_memory

    out = _run_to_memory(agg, "complete", state_partitions=4)
    return (
        out
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# JSON handling: the dynamic `$meta` field pattern (etcd_op.go:654-657) —
# JSON payload columns queried with path extraction (events.props).
# ---------------------------------------------------------------------------


@q(
    "json_extract_props",
    """
    SELECT coalesce(json_extract_string(props, '$.k'), '') AS k_value,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
    "json",
    "scalar",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k_value", F.coalesce(F.get_json_object("props", "$.k"), F.lit(""))
        )
        .groupBy("k_value")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("k_value")
    )


# ---------------------------------------------------------------------------
# Date/time functions: calendar rollup on order dates.
# ---------------------------------------------------------------------------


@q(
    "calendar_agg",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(extract(year FROM o_orderdate) AS INT)    AS order_year,
           CAST(extract(dow FROM o_orderdate) = 0 OR extract(dow FROM o_orderdate) = 6 AS BOOLEAN) AS is_weekend,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    "scalar",
    "date",
)
def calendar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_month", F.date_trunc("month", "o_orderdate").cast("date"))
        .withColumn("order_year", F.year("o_orderdate"))
        .withColumn("is_weekend", F.dayofweek("o_orderdate").isin(1, 7))
        .groupBy("order_month", "order_year", "is_weekend")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy("order_month", "order_year", "is_weekend")
    )


# ---------------------------------------------------------------------------
# A7 as argmax: max_by / arg_max — the reference's per-PK latest-op compare.
# ---------------------------------------------------------------------------


@q(
    "argmax_latest_op",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT collection,
           arg_max(op_type, ts || lpad(CAST(pk AS VARCHAR), 12, '0')) AS latest_op,
           max(ts) AS latest_ts
    FROM ops
    GROUP BY collection
    ORDER BY collection
    """,
    "agg",
    "argmax",
)
def argmax_latest_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    # deterministic argmax: break ts ties by pk via a composed sort key
    key = F.concat(F.col("ts").cast("string"), F.lpad(F.col("pk").cast("string"), 12, "0"))
    return (
        ops.groupBy("collection")
        .agg(
            F.max_by("op_type", key).alias("latest_op"),
            F.max("ts").alias("latest_ts"),
        )
        .orderBy("collection")
    )


# ---------------------------------------------------------------------------
# Cube (multi-dimensional totals) + exact distinct counts.
# ---------------------------------------------------------------------------


@q(
    "cube_order_status",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           count(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    "agg",
    "cube",
    "distinct",
)
def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# T4: begin-ts repair — zero/invalid timestamps coalesced from fallbacks
# (replicate_channel_manager.go:1469-1507).
# ---------------------------------------------------------------------------


@q(
    "begin_ts_repair",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL}),
    damaged AS (
      SELECT vchannel, pk,
             CASE WHEN pk % 11 = 0 THEN 0 ELSE ts END AS begin_ts,
             ts AS end_ts
      FROM ops
    )
    SELECT vchannel,
           count(*) AS n_msgs,
           CAST(sum(CASE WHEN begin_ts = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_damaged,
           min(CASE WHEN begin_ts != 0 THEN begin_ts
                    ELSE coalesce(nullif(end_ts, 0), 1) END) AS min_repaired_ts
    FROM damaged
    GROUP BY vchannel
    ORDER BY vchannel
    """,
    "cdc",
    "repair",
    "scalar",
)
def begin_ts_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    damaged = ops.select(
        "vchannel",
        "pk",
        F.when(F.col("pk") % 11 == 0, F.lit(0)).otherwise(F.col("ts")).alias("begin_ts"),
        F.col("ts").alias("end_ts"),
    )
    repaired = F.when(F.col("begin_ts") != 0, F.col("begin_ts")).otherwise(
        F.coalesce(F.nullif(F.col("end_ts"), F.lit(0)), F.lit(1))
    )
    return (
        damaged.groupBy("vchannel")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum(F.when(F.col("begin_ts") == 0, 1).otherwise(0)).alias("n_damaged"),
            F.min(repaired).alias("min_repaired_ts"),
        )
        .orderBy("vchannel")
    )


# ---------------------------------------------------------------------------
# String functions: regexp extraction + formatting (key-parsing family,
# etcd_op.go:437-463, util/string.go GetCollectionNameFromFull).
# ---------------------------------------------------------------------------


@q(
    "string_key_parsing",
    """
    SELECT source,
           regexp_extract(source, '([a-z]+)([0-9]+)', 2)            AS src_num,
           'root-coord/collection/' || source                       AS meta_key,
           split_part('db1.' || source, '.', 2)                     AS short_name,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    "scalar",
    "string",
)
def string_key_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            F.regexp_extract("source", r"([a-z]+)([0-9]+)", 2).alias("src_num"),
            F.concat(F.lit("root-coord/collection/"), F.col("source")).alias("meta_key"),
            F.substring_index(F.concat(F.lit("db1."), F.col("source")), ".", -1).alias(
                "short_name"
            ),
        )
        .groupBy("source", "src_num", "meta_key", "short_name")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Approximate distinct (HLL) — rows-only: sketches differ across engines by
# construction, so the driver records the weaker check; the unit tests bound
# the error vs exact.
# ---------------------------------------------------------------------------


@q(
    "approx_distinct_parts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "agg",
    "approx",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) checked against the exact count: the
    sketch itself is engine-specific, so the oracle-checkable claim is
    the accuracy contract — approx within 5% of exact (Spark's default
    rsd=0.05; deterministic for fixed input)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("approx_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


# ===========================================================================
# Catalog metadata plane (S1-S4): snapshot read, schema hydration, DB
# resolution, watch-diff. The metadata fixture is derived deterministically
# from `part` (coll dimension) + literal field/db dimensions, mirroring
# FIXTURES.md F3.
# ===========================================================================

_SQL_META_COLLECTIONS = """
      SELECT p_partkey AS coll_id,
             p_name    AS coll_name,
             p_partkey % 3 AS db_id,
             CASE WHEN substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1) IN ('0','1')
                  THEN 'dropped' ELSE 'created' END AS state
      FROM part WHERE p_partkey < 500
"""


def _meta_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return part.select(
        F.col("p_partkey").alias("coll_id"),
        F.col("p_name").alias("coll_name"),
        (F.col("p_partkey") % 3).alias("db_id"),
        F.when(
            F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 1).isin("0", "1"),
            F.lit("dropped"),
        )
        .otherwise(F.lit("created"))
        .alias("state"),
    )


_FIELD_DEFS = [
    (0, "row_id"), (1, "timestamp"),  # system fields: FieldID < 100 → hidden
    (100, "pk"), (101, "embedding"), (102, "$meta"),
]

_DB_NAMES = [(0, "db_a"), (1, "db_b"), (2, "db_c")]


@q(
    "schema_hydration",
    f"""
    WITH colls AS ({_SQL_META_COLLECTIONS}),
    fields(field_id, field_name) AS (VALUES (0,'row_id'),(1,'timestamp'),
                                            (100,'pk'),(101,'embedding'),(102,'$meta')),
    dbs(db_id, db_name) AS (VALUES (0,'db_a'),(1,'db_b'),(2,'db_c')),
    hydrated AS (
      SELECT c.coll_id, c.coll_name, d.db_name,
             list_sort(list(f.field_name) FILTER (f.field_id >= 100 AND f.field_name != '$meta')) AS user_fields,
             bool_or(f.field_name = '$meta') AS enable_dynamic
      FROM colls c
      CROSS JOIN fields f
      JOIN dbs d ON c.db_id = d.db_id
      WHERE c.state != 'dropped'
      GROUP BY c.coll_id, c.coll_name, d.db_name
    )
    SELECT coll_id, coll_name, db_name,
           to_json(user_fields) AS fields_json,
           enable_dynamic
    FROM hydrated
    ORDER BY coll_id
    """,
    "metadata",
    "join",
    "broadcast",
)
def schema_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 fillCollectionField (etcd_op.go:630-693): join collections with
    fields + dbs, hide system fields (P7), detect `$meta` dynamic field —
    as broadcast joins + collect_list."""
    colls = _meta_collections(spark, sf_dir).filter(F.col("state") != "dropped")
    fields = _local_frame(spark, _FIELD_DEFS, "field_id int, field_name string")
    dbs = _local_frame(spark, _DB_NAMES, "db_id int, db_name string")
    hydrated = (
        colls.crossJoin(F.broadcast(fields))
        .join(F.broadcast(dbs), "db_id")
        .groupBy("coll_id", "coll_name", "db_name")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(
                        (F.col("field_id") >= 100) & (F.col("field_name") != "$meta"),
                        F.col("field_name"),
                    )
                )
            ).alias("user_fields"),
            F.max(F.col("field_name") == "$meta").alias("enable_dynamic"),
        )
    )
    return hydrated.select(
        "coll_id",
        "coll_name",
        "db_name",
        F.to_json("user_fields").alias("fields_json"),
        "enable_dynamic",
    ).orderBy("coll_id")


@q(
    "metadata_watch_diff",
    f"""
    WITH v1 AS ({_SQL_META_COLLECTIONS}),
    v2 AS (
      SELECT coll_id, coll_name, db_id,
             CASE WHEN substr(md5('v2:' || CAST(coll_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2') AND state = 'created'
                  THEN 'dropped' ELSE state END AS state
      FROM v1
    )
    SELECT CASE WHEN v1.state = 'created' AND v2.state = 'dropped'
                THEN 'collection_dropped' ELSE 'unchanged' END AS event_type,
           count(*) AS n
    FROM v1 JOIN v2 ON v1.coll_id = v2.coll_id
    GROUP BY 1
    ORDER BY 1
    """,
    "metadata",
    "watch",
    "diff",
)
def metadata_watch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 watch semantics re-expressed as snapshot diff: compare two catalog
    versions, emit change events (the Delta-CDF/readChangeFeed pattern —
    here with two derived snapshot versions)."""
    v1 = _meta_collections(spark, sf_dir)
    v2 = v1.withColumn(
        "state",
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("v2:"), F.col("coll_id").cast("string"))), 1, 1
            ).isin("0", "1", "2")
            & (F.col("state") == "created"),
            F.lit("dropped"),
        ).otherwise(F.col("state")),
    )
    joined = v1.alias("v1").join(v2.alias("v2"), F.col("v1.coll_id") == F.col("v2.coll_id"))
    return (
        joined.select(
            F.when(
                (F.col("v1.state") == "created") & (F.col("v2.state") == "dropped"),
                F.lit("collection_dropped"),
            )
            .otherwise(F.lit("unchanged"))
            .alias("event_type")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Multi-join TPC-H-style queries: big-big joins where Catalyst must mix
# broadcast (dims) and shuffle joins (facts).
# ---------------------------------------------------------------------------


@q(
    "tpch_q3_shipping",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 20
    """,
    "join",
    "agg",
    "topk",
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


@q(
    "tpch_q5_local_volume",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    "join",
    "agg",
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    joined = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: same sign-bucket pairs above a cosine threshold
# (the embedding-space analog of MinHash dedup).
# ---------------------------------------------------------------------------


@q(
    "embedding_near_dup",
    f"""
    WITH b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    )
    SELECT q.vec_id AS a, c.vec_id AS b, {_SQL_COSINE} AS sim
    FROM b c JOIN b q ON c.bucket = q.bucket AND q.vec_id < c.vec_id
    WHERE {_SQL_COSINE} >= 0.35
    ORDER BY a, b
    """,
    "vector",
    "dedup",
    "llm",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    b = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        similarity.sign_bucket(F.col("embedding"), 4).alias("bucket"),
    )
    left = b.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("va"), "bucket"
    )
    right = b.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("vb"), "bucket"
    )
    pairs = left.join(right, "bucket").filter(F.col("a") < F.col("b"))
    sim = F.round(vector.cosine(F.col("vb"), F.col("va")), 6)
    return (
        pairs.select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= 0.35)
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints: 16-bit sign-sum over per-token md5 bits. Portable
# (pure md5 + integer math); the oracle builds identical bit expressions.
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 16


def _sql_simhash_oracle() -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
    v = " + ".join(
        f"{digit.format(pos=i+1)} * {16 ** (3 - i)}" for i in range(4)
    )
    bit_sums = ", ".join(
        f"sum(CASE WHEN (v // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SIMHASH_BITS)
    )
    bits_concat = " || ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END"
        for j in range(_SIMHASH_BITS - 1, -1, -1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                        t -> t != '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, md5(tok) AS h FROM toks
    ),
    vals AS (
      SELECT doc_id, {v} AS v FROM hashed
    ),
    sums AS (
      SELECT doc_id, {bit_sums} FROM vals GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, {bits_concat} AS simhash FROM sums
    )
    SELECT f.doc_id, f.simhash, c.cluster_size
    FROM fp f
    JOIN (SELECT simhash, count(*) AS cluster_size FROM fp GROUP BY simhash) c
      ON f.simhash = c.simhash
    ORDER BY f.doc_id
    """


@q("simhash_fingerprints", _sql_simhash_oracle(), "dedup", "simhash", "llm")
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document + cluster sizes, as the row-based plan:
    explode tokens → md5 → 16 conditional sums → bit string. One shuffle
    (groupBy doc), one broadcast-ish self-join for cluster sizes."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("tok")
    )
    v = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
    vals = toks.select("doc_id", v.alias("v"))
    sums = vals.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.floor(F.col("v") / (1 << j)) % 2) == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    bits = F.concat(
        *[
            F.when(F.col(f"s{j}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(_SIMHASH_BITS - 1, -1, -1)
        ]
    )
    fp = sums.select("doc_id", bits.alias("simhash"))
    clusters = fp.groupBy("simhash").agg(F.count("*").alias("cluster_size"))
    return fp.join(clusters, "simhash").select(
        "doc_id", "simhash", "cluster_size"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Winnowing rolling-hash fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03):
# the north-star "document fingerprinting (rolling hash)" operator. Char
# k-gram md5 hashes, per-doc sliding-window minima, distinct survivors.
# ---------------------------------------------------------------------------


def _sql_winnowing_oracle(k: int = 8, w: int = 4) -> str:
    digit = "(strpos('0123456789abcdef', substr(h0, {pos}, 1)) - 1)"
    v = " + ".join(f"{digit.format(pos=i + 1)} * {16 ** (3 - i)}" for i in range(4))
    return f"""
    WITH norm AS (
      SELECT doc_id, lower(text) AS t FROM documents
      WHERE length(lower(text)) >= {k}
    ),
    grams AS (
      SELECT doc_id, length(t) - {k - 1} AS n_grams,
             unnest(generate_series(1, length(t) - {k - 1})) AS pos, t
      FROM norm
    ),
    hashed AS (
      SELECT doc_id, n_grams, pos, md5(substr(t, pos, {k})) AS h0 FROM grams
    ),
    vals AS (
      SELECT doc_id, n_grams, pos, CAST({v} AS INTEGER) AS h FROM hashed
    ),
    wins AS (
      SELECT doc_id, n_grams, pos,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
      FROM vals
    ),
    sel AS (
      SELECT DISTINCT doc_id, fp FROM wins
      WHERE pos <= greatest(n_grams - {w - 1}, 1)
    )
    SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
    FROM sel GROUP BY doc_id ORDER BY doc_id
    """


@q(
    "winnowing_fingerprints",
    _sql_winnowing_oracle(),
    "dedup",
    "fingerprint",
    "llm",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per document: any shared substring of
    length >= w+k-1 between two docs is guaranteed to share a fingerprint
    hash, at ~2/(w+1) selection density — the classic plagiarism/near-dup
    index. Plan: map-only gram explosion, ONE per-doc window, distinct,
    tiny per-doc aggregate (analytics/dedup.winnowing_fingerprints)."""
    from milvus_cdc_spark.analytics import dedup

    fp = dedup.winnowing_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fp"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Map/array construction (ConvertKVPairToMap, milvus_handler.go:248):
# KV structs → map, element extraction. Output is scalars so the comparison
# stays engine-portable.
# ---------------------------------------------------------------------------


@q(
    "map_kv_extract",
    """
    SELECT event_id,
           event_type          AS m_type,
           CAST(user_id AS VARCHAR) AS m_user
    FROM events
    WHERE event_id < 200
    ORDER BY event_id
    """,
    "scalar",
    "map",
)
def map_kv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    kv = F.map_from_entries(
        F.array(
            F.struct(F.lit("type").alias("k"), F.col("event_type").cast("string").alias("v")),
            F.struct(F.lit("user").alias("k"), F.col("user_id").cast("string").alias("v")),
        )
    )
    return ev.select(
        "event_id",
        F.element_at(kv, "type").alias("m_type"),
        F.element_at(kv, "user").alias("m_user"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# S6: dispatcher fan-out — route one pchannel's stream to its vchannel
# targets (msgdispatcher/dispatcher.go:262-368 groupAndParseMsgs). vchannel →
# pchannel via suffix strip (funcutil.ToPhysicalChannel analog).
# ---------------------------------------------------------------------------


@q(
    "dispatcher_routing",
    f"""
    WITH ops AS ({oplog.ORACLE_OPLOG_SQL})
    SELECT split_part(vchannel, '_', 1) || '_' ||
           CAST(seq % 2 AS VARCHAR)                    AS pchannel,
           vchannel,
           count(*)                                    AS n_routed,
           CAST(sum(CASE WHEN op_type = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed
    FROM ops
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "source",
    "dispatcher",
    "cdc",
)
def dispatcher_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = oplog.derive_oplog(_t(spark, sf_dir, "lineitem"))
    pchannel = F.concat(
        F.substring_index("vchannel", "_", 1), F.lit("_"), (F.col("seq") % 2).cast("string")
    )
    return (
        ops.withColumn("pchannel", pchannel)
        .groupBy("pchannel", "vchannel")
        .agg(
            F.count("*").alias("n_routed"),
            # lazy-unmarshal analog: only insert payloads get parsed
            F.sum(F.when(F.col("op_type") == "insert", 1).otherwise(0)).alias("n_parsed"),
        )
        .orderBy("pchannel", "vchannel")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate detection — the vector-space member of
# the dedup family (exact / MinHash+LSH / SimHash / winnowing /
# embedding-cosine). The fixture embeddings are random (max pairwise
# cosine ~0.51), so the query builds the standard honest dup corpus:
# every vector plus a deterministically perturbed replica (+-0.02 on a
# (vec_id + dim) % 3 pattern, replica id = vec_id + 100000), then runs
# sign-band LSH candidates + exact cosine verify at 0.98. Both engines
# compute identical buckets (signs of raw dims) and cosines (rounded 6).
# ---------------------------------------------------------------------------

_END_BD, _END_NB = 8, 8  # band_dims, n_bands


def _emb_nd_band(b: int) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{b * _END_BD + i + 1}] >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_END_BD)
    )


_EMB_ND_BANDS = ", ".join(f"({_emb_nd_band(b)}) AS bb{b}" for b in range(_END_NB))
_EMB_ND_ARMS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, bb{b} AS bucket FROM banded"
    for b in range(_END_NB)
)

_ORACLE_EMB_NEAR_DUP = f"""
    WITH aug AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(
               list_zip(embedding::DOUBLE[], generate_series(1, 64)),
               p -> p[1] + 0.02 * ((vec_id + p[2]) % 3 - 1))
      FROM embeddings
    ),
    banded AS (SELECT doc_id, {_EMB_ND_BANDS} FROM aug),
    buckets AS ({_EMB_ND_ARMS}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM buckets x
      JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             round(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                       p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))),
               6) AS cosine
      FROM cand c
      JOIN aug a ON c.doc_a = a.doc_id
      JOIN aug b ON c.doc_b = b.doc_id
    )
    SELECT doc_a, doc_b, cosine
    FROM verified WHERE cosine >= 0.98
    ORDER BY doc_a, doc_b
"""


@q(
    "banded_cosine_near_dup",
    _ORACLE_EMB_NEAR_DUP,
    "dedup",
    "embedding",
    "cosine",
    "lsh",
    "llm",
)
def banded_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (dedup.embedding_near_dup): sign-band
    LSH candidates over an original + perturbed-replica corpus, exact
    cosine verify >= 0.98. Finds each of the N (original, replica)
    pairs; candidate generation stays banded — never all-pairs."""
    from milvus_cdc_spark.analytics import dedup

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    replicas = emb.select(
        (F.col("vec_id") + 100000).alias("doc_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + 0.02 * (((F.col("vec_id") + i + 1) % 3) - 1),
        ).alias("embedding"),
    )
    aug = base.unionAll(replicas)
    return dedup.embedding_near_dup(
        aug, threshold=0.98, n_bands=_END_NB, band_dims=_END_BD
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al., arXiv:2303.09540): k-means cluster the
# embedding space, then prune within-cluster semantic duplicates by
# cosine — the cluster-then-dedup scale pattern (pairwise work bounded
# per cluster, k scales with the corpus). Runs on the same original +
# perturbed-replica corpus the banded near-dup query builds, so every
# replica should be pruned against its original inside their shared
# cluster. The oracle reproduces the ENTIRE pipeline (2-iteration Lloyd
# k-means with 6-dp-rounded means, final squared-L2 assignment,
# farthest-first keep order, cosine >= 0.98 prune) in MATERIALIZED CTEs.
# ---------------------------------------------------------------------------

_SD_DIM, _SD_K = 64, 8
_SD_INIT = ", ".join(f"embedding[{i + 1}] AS d{i}" for i in range(_SD_DIM))
_SD_AVG = ", ".join(
    f"round(avg(embedding[{i + 1}]), 6) AS d{i}" for i in range(_SD_DIM)
)
_SD_DIST = " + ".join(
    f"(v.embedding[{i + 1}] - c.d{i}) * (v.embedding[{i + 1}] - c.d{i})"
    for i in range(_SD_DIM)
)


def _sd_assign(cent: str) -> str:
    return f"""
      SELECT doc_id, centroid_id, embedding, d2 FROM (
        SELECT v.doc_id, c.centroid_id, v.embedding, {_SD_DIST} AS d2,
               row_number() OVER (PARTITION BY v.doc_id
                                  ORDER BY {_SD_DIST} ASC, c.centroid_id)
                 AS rn
        FROM aug v CROSS JOIN {cent} c
      ) WHERE rn = 1
    """


_ORACLE_SEMDEDUP = f"""
    WITH aug AS MATERIALIZED (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS embedding
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(
               list_zip(embedding::DOUBLE[], generate_series(1, {_SD_DIM})),
               p -> p[1] + 0.02 * ((vec_id + p[2]) % 3 - 1))
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY doc_id) - 1 AS centroid_id, {_SD_INIT}
      FROM (SELECT * FROM aug ORDER BY doc_id LIMIT {_SD_K})
    ),
    a0 AS MATERIALIZED ({_sd_assign("c0")}),
    c1 AS MATERIALIZED (SELECT centroid_id, {_SD_AVG} FROM a0 GROUP BY centroid_id),
    a1 AS MATERIALIZED ({_sd_assign("c1")}),
    c2 AS MATERIALIZED (SELECT centroid_id, {_SD_AVG} FROM a1 GROUP BY centroid_id),
    asg AS MATERIALIZED ({_sd_assign("c2")}),
    pruned AS MATERIALIZED (
      SELECT DISTINCT b.doc_id
      FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id
       AND (a.d2 > b.d2 OR (a.d2 = b.d2 AND a.doc_id < b.doc_id))
      WHERE round(
              list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                      p -> p[1] * p[2]))
              / (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
                 * sqrt(list_sum(list_transform(b.embedding, x -> x * x)))),
              6) >= 0.98
    )
    SELECT s.centroid_id,
           count(*) AS n_members,
           CAST(sum(CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned,
           round(sum(CAST(floor(s.d2 * 1e6 + 0.5) AS BIGINT)) / count(*) / 1e6, 4)
             AS avg_d2
    FROM asg s LEFT JOIN pruned p ON s.doc_id = p.doc_id
    GROUP BY s.centroid_id
    ORDER BY s.centroid_id
"""


@q(
    "semdedup_prune",
    _ORACLE_SEMDEDUP,
    "dedup",
    "embedding",
    "semdedup",
    "kmeans",
    "llm",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the original + perturbed-replica corpus
    (dedup.semdedup): deterministic Lloyd k-means (k=8, 2 iterations),
    within-cluster farthest-first keep order, cosine >= 0.98 prune.
    Per-cluster summary: member count, pruned count, mean squared-L2 to
    centroid (integer-micro averaged, so summation order can't drift).

    r14 note (measured): keyed scan-widening of the embeddings input was
    a wash (interleaved A/B 0.92 then 1.06) — the union+perturbation
    already re-shuffles before the heavy within-cluster stages. Left on
    the single scan. r15 re-ran the A/B on two calmer blocks per the
    verdict (0.98 then 0.95, widened at the post-union frame): wash
    reproduced — the leave stands."""
    from milvus_cdc_spark.analytics import dedup

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    replicas = emb.select(
        (F.col("vec_id") + 100000).alias("doc_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x.cast("double")
            + 0.02 * (((F.col("vec_id") + i + 1) % 3) - 1),
        ).alias("embedding"),
    )
    aug = base.unionAll(replicas)
    marked = dedup.semdedup(
        aug, k=_SD_K, iters=2, dim=_SD_DIM, threshold=0.98, id_col="doc_id"
    )
    return (
        marked.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(F.col("pruned").cast("int")).cast("bigint").alias("n_pruned"),
            F.round(F.sum("d2_micro") / F.count("*") / 1e6, 4).alias("avg_d2"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# Training-data hygiene: n-gram decontamination, Gopher-style repetition
# flags, and PII redaction — the corpus-prep steps between dedup and
# packing. Decontamination uses n=3 because the fixture vocabulary is
# tiny (real pipelines use 8-13 grams; the operator takes n); the PII
# query injects deterministic synthetic PII (the fixture corpus has
# none) exactly like the near-dup queries construct replica corpora.
# ---------------------------------------------------------------------------


@q(
    "ngram_decontamination",
    f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) - 2 > 0
                    THEN list_distinct(list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' ')))
                    ELSE [] END) AS s
      FROM base
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh t JOIN ev ON t.s = ev.s
    WHERE t.doc_id % 97 != 0
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    "corpus",
    "decontamination",
    "llm",
)
def ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval n-gram overlap (corpus.decontaminate): docs with
    doc_id % 97 == 0 play the held-out benchmark; every other doc
    reports how many of its distinct 3-grams appear in that set."""
    from milvus_cdc_spark.analytics import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus_ops.decontaminate(tr, ev, n=3)
        .select("doc_id", F.col("n_hits").cast("bigint").alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate coverage (Lee et al., arXiv:2107.06499):
# fraction of token positions covered by an n-gram that occurs >= 2
# times corpus-wide — the distributed n-gram formulation of the
# suffix-array substring dedup. n=3 for the fixture's tiny vocabulary
# (the paper's production setting is 50-token spans; the operator takes
# n and larger n only SHRINKS the dup set).
# ---------------------------------------------------------------------------

_DUPSPAN_N = 3

_ORACLE_DUPSPANS = f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, unnest(generate_series(1, len(toks) - {_DUPSPAN_N - 1}))
               AS pos, toks
      FROM base
      WHERE len(toks) >= {_DUPSPAN_N}
    ),
    hashed AS MATERIALIZED (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos:pos + {_DUPSPAN_N - 1}], ' ')) AS g
      FROM grams
    ),
    dupg AS (SELECT g FROM hashed GROUP BY g HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT doc_id, cpos FROM (
        SELECT h.doc_id,
               unnest(generate_series(h.pos, h.pos + {_DUPSPAN_N - 1})) AS cpos
        FROM hashed h JOIN dupg USING (g)
      )
    ),
    per_doc AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(b.toks)) AS BIGINT) AS n_toks,
           CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           round(sum(coalesce(p.dup_tokens, 0)) / sum(len(b.toks)), 6)
             AS dup_frac
    FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
    GROUP BY b.source
    ORDER BY b.source
"""


@q(
    "duplicate_span_coverage",
    _ORACLE_DUPSPANS,
    "dedup",
    "substring",
    "llm",
    "pipeline",
)
def duplicate_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span token coverage (dedup.duplicate_spans, n=3):
    per-source totals of tokens covered by a corpus-duplicated n-gram —
    the exact-substring-dedup loss report."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    spans = dedup.duplicate_spans(docs, n=_DUPSPAN_N)
    return (
        spans.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_toks"),
            F.sum("dup_tokens").cast("bigint").alias("dup_tokens"),
            F.round(F.sum("dup_tokens") / F.sum("n_toks"), 6).alias("dup_frac"),
        )
        .orderBy("source")
    )


@q(
    "gopher_repetition_flags",
    f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) - 1 > 0
                    THEN list_transform(
                           generate_series(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+1], ' '))
                    ELSE [] END) AS s
      FROM base
    ),
    per AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY doc_id, s),
    agg AS (
      SELECT doc_id, sum(c) AS total, count(*) AS nd, max(c) AS top
      FROM per GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(total AS BIGINT) AS n_2grams,
           round(1 - nd / total::DOUBLE, 6) AS dup_frac,
           round(top / total::DOUBLE, 6) AS top_frac,
           (round(1 - nd / total::DOUBLE, 6) > 0.10
            OR round(top / total::DOUBLE, 6) > 0.10) AS flagged
    FROM agg
    ORDER BY doc_id
    """,
    "corpus",
    "quality",
    "repetition",
    "llm",
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filter signals
    (corpus.repetition_stats, 2-grams): duplicate-2-gram fraction and
    top-2-gram fraction per doc, flagged above 0.10 — thresholds sized
    to the fixture distribution (Rae et al. 2021 use character-mass
    cutoffs on web text). Flags compare the ROUNDED fractions so both
    engines agree at the boundary."""
    from milvus_cdc_spark.analytics import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    stats = corpus_ops.repetition_stats(docs, n=2)
    dup_frac = F.round(1 - F.col("n_distinct") / F.col("total"), 6)
    top_frac = F.round(F.col("top") / F.col("total"), 6)
    return (
        stats.select(
            "doc_id",
            F.col("total").cast("bigint").alias("n_2grams"),
            dup_frac.alias("dup_frac"),
            top_frac.alias("top_frac"),
            ((dup_frac > 0.10) | (top_frac > 0.10)).alias("flagged"),
        )
        .orderBy("doc_id")
    )


_PII_SQL = """
    WITH aug AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 5 = 0
                THEN ' contact u' || doc_id::VARCHAR || '@example.com'
                ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                THEN ' from 10.0.' || (doc_id % 256)::VARCHAR || '.1'
                ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                THEN ' call +1 555 01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
                ELSE '' END AS text
      FROM documents
    ),
    cnt AS (
      SELECT source,
             len(regexp_extract_all(text, '@EMAIL@')) AS e,
             len(regexp_extract_all(text, '@IPV4@')) AS i,
             len(regexp_extract_all(text, '@PHONE@')) AS p,
             length(text) - length(
               regexp_replace(regexp_replace(regexp_replace(text,
                 '@EMAIL@', '<EMAIL>', 'g'),
                 '@IPV4@', '<IP>', 'g'),
                 '@PHONE@', '<PHONE>', 'g')) AS delta
      FROM aug
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (e + i + p > 0) AS BIGINT) AS docs_with_pii,
           CAST(sum(e) AS BIGINT) AS n_emails,
           CAST(sum(i) AS BIGINT) AS n_ips,
           CAST(sum(p) AS BIGINT) AS n_phones,
           CAST(sum(delta) AS BIGINT) AS chars_removed
    FROM cnt
    GROUP BY source
    ORDER BY source
""".replace("@EMAIL@", text.PII_EMAIL).replace("@IPV4@", text.PII_IPV4).replace(
    "@PHONE@", text.PII_PHONE
)


@q("pii_redaction_stats", _PII_SQL, "corpus", "pii", "redaction", "llm")
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions.text.redact_pii / pii_counts) over a
    corpus with deterministic synthetic PII injected (emails on
    doc_id%5, IPv4 on %7, +international phones on %11): per-source doc
    counts, occurrence counts per category, and net characters removed
    by redaction. The regex strings are the RE2-compatible subset, so
    Spark (Java regex) and DuckDB (RE2) evaluate the identical
    patterns."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact u"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(
                F.lit(" call +1 555 01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", "source", injected.alias("text"))
    c = text.pii_counts(F.col("text"))
    delta = F.length("text") - F.length(text.redact_pii(F.col("text")))
    per = aug.select("source", c.alias("c"), delta.alias("delta"))
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                (
                    (F.col("c.n_emails") + F.col("c.n_ips") + F.col("c.n_phones"))
                    > 0
                ).cast("int")
            )
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("c.n_emails").cast("bigint").alias("n_emails"),
            F.sum("c.n_ips").cast("bigint").alias("n_ips"),
            F.sum("c.n_phones").cast("bigint").alias("n_phones"),
            F.sum("delta").cast("bigint").alias("chars_removed"),
        )
        .orderBy("source")
    )


# Extended inventories (register additional QUERIES entries).
from milvus_cdc_spark import suite_relational  # noqa: E402,F401  (import-for-effect)
from milvus_cdc_spark import suite_search  # noqa: E402,F401  (import-for-effect)
from milvus_cdc_spark import suite_consistency  # noqa: E402,F401  (import-for-effect)
from milvus_cdc_spark import suite_streaming_ext  # noqa: E402,F401  (import-for-effect)
from milvus_cdc_spark import suite_mlops  # noqa: E402,F401  (import-for-effect)
from milvus_cdc_spark import suite_eval  # noqa: E402,F401  (import-for-effect)

# ---------------------------------------------------------------------------
# Registry ordering. The driver's correctness harness checks the FIRST 50
# registry entries, so the front of the dict is curated. Round 14 executes
# the rotation pre-staged in round 13 (deterministic freshness sweep by
# (latest driver round, name) ascending over the cumulative
# CORRECTNESS_r01-r13 ledger — all 255 pre-r14 queries driver-checked at
# least once, zero red on latest check; a NEVER-driver-checked query
# sorts as round 0 so it leads the window): 2 regression anchors
# (q1_pricing_summary, cdc_replay_summary — driver-green every round
# r1-r13) + the 1 row with no driver check yet (paragraph_near_dup —
# REGISTERED r14, the round's single reviewed addition, verified at
# sf0.001/0.01/0.1 before registration) + the 13 r8-remainder rows +
# the 34 oldest r9-cohort rows (alphabetical ann_bucketed_topk ..
# set_ops_nations; simhash_fingerprints shifts to r15 exactly per the
# round-0 rule). Verified by scripts/rotation_check.py against the full
# r01-r13 ledger, and the whole window pre-verified 50/50 at sf0.01.
# Names listed here but not (yet) registered are skipped, so the list
# can lead registration.
# ---------------------------------------------------------------------------

# Round 16 executes the rotation rule over the cumulative
# CORRECTNESS_r01-r15 ledger (deterministic freshness sweep by (latest
# green correctness round, name) ascending; scripts/rotation_check.py
# recomputes and gates it): 2 anchors + the 15 r10-cohort remainder rows
# (partition_drop_replay, red at r15, falls back to its r10 green) + the
# 33 oldest r11-cohort rows (alphabetical bigram_lm_quality ..
# quantile_sketch_merge). No never-checked registrations exist.
#
# r17 ROTATION PROPOSAL (pre-staged; rotation_check.py --next prints it
# once CORRECTNESS_r16 lands): anchors + any never-checked
# registrations (round 0) + the remaining r11-cohort rows —
# range_search_annulus onward per the ledger — then the oldest
# r12-cohort rows to fill 50. Recompute at swap time; new registrations
# sort as round 0 and lead the window.
PRIORITY: tuple[str, ...] = (
    # -- 2 regression anchors (green r1-r15) --
    "q1_pricing_summary",       # flagship; TPC-H Q1 agg
    "cdc_replay_summary",       # A7/K1 replay
    # -- 15 r10-cohort remainder rows (latest green CORRECTNESS_r10) --
    "partition_drop_replay",
    "quality_filter_funnel",
    "rank_analytics",
    "returned_items_topk",
    "rolling_hash_fingerprint",
    "scalar_subquery_small_qty",
    "streaming_session_window",
    "streaming_state_tracker",
    "text_match_retrieval",
    "top_supplier_revenue",
    "topk_orders",
    "tpch_q5_local_volume",
    "ttl_expiry",
    "vocab_build",
    "window_moving_avg",
    # -- 33 oldest r11-cohort rows, (round, name) ascending --
    "bigram_lm_quality",
    "bpe_encode_vocab",
    "bpe_merge_training",
    "cdc_alive_rows",
    "cms_heavy_hitters",
    "corpus_line_dedup",
    "default_value_fill",
    "delete_by_expr_replay",
    "dsir_importance_selection",
    "duplicate_span_coverage",
    "expr_count_star",
    "full_datatype_roundtrip",
    "fulltext_drop_ratio",
    "gopher_repetition_flags",
    "hamming_banded_join",
    "histogram_quantile_sketch",
    "hll_distinct_users",
    "hll_union_sources",
    "ivf_nprobe_recall_curve",
    "kcore_prune_rounds",
    "ks_drift_test",
    "label_propagation_communities",
    "langid_precision_recall",
    "maxscore_pruned_search",
    "maxsim_ann_rerank",
    "maxsim_multivector_topk",
    "mmr_diversified_search",
    "ndcg_search_eval",
    "pagerank_trade_graph",
    "pii_redaction_stats",
    "pk_get_by_ids",
    "quality_canonical_selection",
    "quantile_sketch_merge",
)


def _ordered_names() -> list[str]:
    front = [n for n in PRIORITY if n in QUERIES]
    back = [n for n in QUERIES if n not in set(front)]
    return front + back


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in _ordered_names()}


def get_oracles() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle
    }


# ---------------------------------------------------------------------------
# Mid-stream schema evolution (AlterCollection adds a field while
# replication runs — server/model DDL path): early op batches lack the
# new column, later ones carry it. The apply path reads the staged
# batches with parquet mergeSchema and replays LWW; rows written before
# the DDL surface the new field as NULL, never as a read error or a
# dropped batch. The oracle mirrors with UNION ALL BY NAME.
# ---------------------------------------------------------------------------


@q(
    "schema_evolution_apply",
    """
    WITH ops AS (
      SELECT o_orderkey AS pk, o_custkey AS val, CAST(NULL AS VARCHAR) AS tag,
             0 AS ts
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL BY NAME
      SELECT o_orderkey AS pk, o_custkey + 1 AS val,
             o_orderpriority AS tag, 1 AS ts
      FROM orders WHERE o_orderkey % 8 = 0
    ),
    latest AS (
      SELECT pk, val, tag,
             row_number() OVER (PARTITION BY pk ORDER BY ts DESC) AS rn
      FROM ops
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pks,
           CAST(sum(CASE WHEN tag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pre_ddl,
           CAST(sum(CASE WHEN tag IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_post_ddl,
           CAST(sum(val) AS BIGINT) AS sum_val
    FROM latest WHERE rn = 1
    """,
    "cdc",
    "ddl",
    "schema-evolution",
    "mergeSchema",
)
def schema_evolution_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay across a mid-stream schema change: batch 0 is written
    WITHOUT the `tag` column, batch 1 (later ts) WITH it; the reader
    unions the staged batches with parquet mergeSchema=true and LWW
    picks the newest row per pk. Pre-DDL survivors carry NULL tag —
    exactly Spark's schema-merge contract, no manual column fixup."""
    orders = _t(spark, sf_dir, "orders")
    stage = catalog.scratch_dir("schema_evo_")
    b0 = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("pk"),
        F.col("o_custkey").alias("val"),
        F.lit(0).alias("ts"),
    )
    b1 = orders.filter(F.col("o_orderkey") % 8 == 0).select(
        F.col("o_orderkey").alias("pk"),
        (F.col("o_custkey") + 1).alias("val"),
        F.col("o_orderpriority").alias("tag"),
        F.lit(1).alias("ts"),
    )
    b0.write.mode("overwrite").parquet(stage + "/batch=0")
    b1.write.mode("overwrite").parquet(stage + "/batch=1")
    ops = spark.read.option("mergeSchema", "true").parquet(
        stage + "/batch=0", stage + "/batch=1"
    )
    latest = windows.top_k(ops, "pk", [F.col("ts").desc()], 1, rank="rn")
    return latest.agg(
        F.count("*").cast("bigint").alias("n_pks"),
        F.sum(F.col("tag").isNull().cast("int")).cast("bigint").alias(
            "n_pre_ddl"
        ),
        F.sum(F.col("tag").isNotNull().cast("int")).cast("bigint").alias(
            "n_post_ddl"
        ),
        F.sum("val").cast("bigint").alias("sum_val"),
    )


# ---------------------------------------------------------------------------
# Milvus 2.5 nullable / default_value fill at apply time: ops that omit
# a defaulted payload field take the schema default; nullable-no-default
# stays NULL; NULL in a non-nullable no-default field flags the row
# invalid (quarantine, not batch failure). Derived payload stream from
# orders, portable CASE nulls on both sides.
# ---------------------------------------------------------------------------


@q(
    "default_value_fill",
    """
    WITH ops AS (
      SELECT o_orderkey AS pk,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL
                  ELSE o_orderpriority END AS priority,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_custkey END AS qty,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderpriority END AS note,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE o_orderstatus END AS seg
      FROM orders
    ),
    filled AS (
      SELECT pk,
             coalesce(priority, '0-MISSING') AS priority,
             coalesce(qty, -1) AS qty,
             note, seg,
             (seg IS NULL) AS invalid
      FROM ops
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ops,
           CAST(sum(CASE WHEN priority = '0-MISSING' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_priority_filled,
           CAST(sum(CASE WHEN qty = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_qty_filled,
           CAST(sum(CASE WHEN note IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_note_null,
           CAST(sum(CASE WHEN invalid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_invalid,
           CAST(sum(CASE WHEN invalid THEN pk ELSE 0 END) AS BIGINT)
             AS sum_invalid_pk
    FROM filled
    """,
    "cdc",
    "apply",
    "default-value",
    "nullable",
)
def default_value_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema default_value fill + non-nullable quarantine flag over a
    derived payload op stream (operators/apply.fill_defaults)."""
    orders = _t(spark, sf_dir, "orders")
    ops = orders.select(
        F.col("o_orderkey").alias("pk"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("qty"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_orderpriority"))
        .alias("note"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("seg"),
    )
    filled = apply_op.fill_defaults(
        ops, {"priority": "0-MISSING", "qty": -1}, not_nullable=("seg",)
    )
    return filled.agg(
        F.count("*").cast("bigint").alias("n_ops"),
        F.sum((F.col("priority") == "0-MISSING").cast("int"))
        .cast("bigint")
        .alias("n_priority_filled"),
        F.sum((F.col("qty") == -1).cast("int")).cast("bigint").alias(
            "n_qty_filled"
        ),
        F.sum(F.col("note").isNull().cast("int")).cast("bigint").alias(
            "n_note_null"
        ),
        F.sum(F.col("_invalid").cast("int")).cast("bigint").alias("n_invalid"),
        F.sum(F.when(F.col("_invalid"), F.col("pk")).otherwise(0))
        .cast("bigint")
        .alias("sum_invalid_pk"),
    )


# ---------------------------------------------------------------------------
# Audio window energy: the payload as PCM int16 mono, per-window sum of
# squared samples in numpy (mapInPandas — REAL DSP, not a stub; exact
# int64 energies). The oracle recomputes each sample from the text
# bytes (ASCII corpus: code point == byte value, little-endian pairs).
# ---------------------------------------------------------------------------


@q(
    "audio_window_energy",
    """
    WITH s AS (
      SELECT doc_id, text, length(text) // 2 AS n_samples FROM documents
    ),
    samples AS (
      SELECT doc_id, n_samples, i AS k,
             ascii(substr(text, 2 * i + 1, 1))
               + 256 * ascii(substr(text, 2 * i + 2, 1)) AS v
      FROM s, unnest(generate_series(0, CAST(n_samples AS INT) - 1)) AS t(i)
      WHERE n_samples > 0
    ),
    wins AS (
      SELECT doc_id, k // 256 AS window_id,
             sum(CAST(v AS BIGINT) * v) AS energy
      FROM samples GROUP BY doc_id, k // 256
    )
    SELECT w.doc_id,
           CAST(any_value(s.n_samples) AS BIGINT) AS n_samples,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(energy) AS BIGINT) AS total_energy,
           CAST(max(energy) AS BIGINT) AS max_window_energy
    FROM wins w JOIN s USING (doc_id)
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
    "multimodal",
    "audio",
    "llm",
)
def audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM int16 window energies over the fake media table
    (multimodal.as_media_table -> audio_energy_features), exact int64."""
    from milvus_cdc_spark.analytics import multimodal

    docs = _t(spark, sf_dir, "documents")
    media = multimodal.as_media_table(docs)
    return (
        multimodal.audio_energy_features(media, window=256)
        .filter(F.col("n_samples") > 0)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Full-datatype envelope roundtrip (tests/testcases/test_cdc_sync_
# requests.py test_cdc_sync_insert_with_full_datatype_request): every
# Milvus field type — bool, int8/16/32/64, float, double, varchar,
# JSON, int array, varchar array, float vector — through the JSON sink
# envelope (to_json) and back (from_json), proving the serde is
# lossless. The Spark side checks exact MULTISET equality of whole
# rows across the roundtrip (group-count full join, null-safe); the
# oracle's independent claim is that both totals equal the row count —
# any lossy type surfaces as a driver hash mismatch.
# ---------------------------------------------------------------------------


@q(
    "full_datatype_roundtrip",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_roundtripped
    FROM part
    """,
    "cdc",
    "serde",
    "datatypes",
)
def full_datatype_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    ent = p.select(
        (F.col("p_partkey") % 2 == 0).alias("b"),
        (F.col("p_size") % 127).cast("tinyint").alias("i8"),
        (F.col("p_partkey") % 32000).cast("smallint").alias("i16"),
        F.col("p_size").cast("int").alias("i32"),
        F.col("p_partkey").cast("bigint").alias("i64"),
        F.col("p_retailprice").cast("float").alias("f"),
        F.col("p_retailprice").cast("double").alias("d"),
        F.col("p_brand").alias("s"),
        F.struct(
            (F.col("p_size") % 5).alias("grade"), F.col("p_type").alias("t")
        ).alias("js"),
        F.array(F.col("p_size"), F.col("p_size") + 1).alias("ia"),
        F.split(F.col("p_name"), " ").alias("sa"),
        F.array(
            *[
                ((F.col("p_partkey") % (7 + i)) / 10.0).cast("float")
                for i in range(4)
            ]
        ).alias("vec"),
    )
    env = ent.select(F.struct(*ent.columns).alias("row")).select(
        F.to_json("row").alias("payload")
    )
    back = env.select(
        F.from_json(
            "payload", ent.select(F.struct(*ent.columns).alias("row")).schema["row"].dataType
        ).alias("row")
    ).select("row.*")
    # positional zip via monotonically-increasing ids would be
    # order-fragile; compare via full-row join instead: every original
    # row must appear in the parsed set with multiplicity (exact
    # multiset equality through a group-count join)
    orig_counts = ent.groupBy(*ent.columns).agg(F.count("*").alias("_n_o"))
    back_counts = back.groupBy(*back.columns).agg(F.count("*").alias("_n_b"))
    joined = orig_counts.join(back_counts, ent.columns, "full")
    both = F.when(
        F.col("_n_o").eqNullSafe(F.col("_n_b")), F.col("_n_o")
    ).otherwise(F.lit(0))
    return joined.agg(
        F.sum(F.coalesce(F.col("_n_o"), F.lit(0)))
        .cast("bigint")
        .alias("n_rows"),
        F.sum(both).cast("bigint").alias("n_roundtripped"),
    )
