"""Extended relational surface: subquery, outer-join, frame, and
grouping shapes the reference never needed but a user of the rebuilt
engine gets from Catalyst for free (SURVEY.md §2.5 note, §2.7).

Each query is registered into ``suite.QUERIES`` via the same decorator,
so it participates in the driver's DuckDB-oracle correctness gate.

Scale notes (100 TB design point) are attached per query: every shape
here is a declarative DataFrame plan — Catalyst picks broadcast vs
sort-merge, pushes filters into the parquet scan, and AQE coalesces /
skew-splits shuffles. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.suite import _SQL_COSINE, _SQL_TOKS, _t, q
from milvus_cdc_spark.catalog import local_frame as _local_frame
from milvus_cdc_spark.operators import windows

# ---------------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape): orders that have at least one late
# line item. Catalyst plans the EXISTS as a left-semi join — at scale a
# shuffled semi join on l_orderkey, with the date filter pushed into both
# parquet scans.
# ---------------------------------------------------------------------------


@q(
    "exists_late_orders",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "join",
    "subquery",
)
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Outer-join histogram (TPC-H Q13 shape): distribution of customers by
# order count, including zero-order customers. Two-level aggregation; the
# left outer join keeps the full customer set. At 100 TB both sides are
# large → sort-merge join on custkey; the second groupBy is tiny.
# ---------------------------------------------------------------------------


@q(
    "cust_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    "join",
    "outer-join",
    "agg",
)
def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (F.col("c_custkey") == F.col("o_custkey"))
        & (F.col("o_orderpriority") != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape): revenue from line items
# whose quantity is below 0.5× the per-part average. Decorrelated to an
# aggregate + equi-join (what Catalyst does internally); the per-part agg
# is map-side-combined before the shuffle.
# ---------------------------------------------------------------------------


@q(
    "scalar_subquery_small_qty",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    WHERE l_quantity < (
      SELECT 0.5 * avg(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
    )
    """,
    "subquery",
    "agg",
)
def scalar_subquery_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    return (
        li.join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# HAVING + IN-subquery (TPC-H Q18 shape): big orders by total quantity,
# joined back to customer. The IN becomes a left-semi join against the
# having-filtered aggregate.
# ---------------------------------------------------------------------------


@q(
    "having_in_large_orders",
    """
    SELECT c_name, o.o_orderkey, o_orderdate, o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 210
    )
    GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    "join",
    "subquery",
    "having",
)
def having_in_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 210)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Conditional two-way counts (TPC-H Q12 shape, adapted: no shipmode
# column in the fixture — bucket by return flag instead). Pure map-side
# conditional aggregation after an equi-join.
# ---------------------------------------------------------------------------


@q(
    "conditional_priority_counts",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    "agg",
    "conditional-agg",
)
def conditional_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Promo revenue ratio (TPC-H Q14 shape): single-pass conditional ratio
# over a part join. part is the small side → broadcast.
# ---------------------------------------------------------------------------


@q(
    "promo_revenue_ratio",
    """
    SELECT round(
      100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
    "agg",
    "join",
    "conditional-agg",
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Disjunctive multi-clause predicate (TPC-H Q19 shape): OR-of-ANDs across
# join keys. Catalyst extracts the common l_partkey=p_partkey conjunct so
# the join stays an equi-join and pushes the residual disjunction into the
# join condition — the pattern that keeps Q19 off a cartesian product.
# ---------------------------------------------------------------------------


@q(
    "disjunctive_filter_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
    "join",
    "predicate",
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# Scalar-subquery threshold + NOT EXISTS (TPC-H Q22 shape): customers with
# above-average balance and no orders. The global avg is a one-row
# broadcast; the NOT EXISTS is a left-anti join (SURVEY J8 semantics).
# ---------------------------------------------------------------------------


@q(
    "anti_exists_idle_customers",
    """
    SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "join",
    "anti-join",
    "subquery",
)
def anti_exists_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Min-per-group join-back (TPC-H Q2 shape): the cheapest supplier per
# nation. Same aggregate-then-rejoin decorrelation as Q17 but keyed on a
# dimension; ties broken by suppkey for determinism.
# ---------------------------------------------------------------------------


@q(
    "min_cost_supplier",
    """
    SELECT n_name, s_name, s_acctbal
    FROM (
      SELECT n_name, s_name, s_acctbal,
             row_number() OVER (PARTITION BY n_name ORDER BY s_acctbal, s_suppkey) AS rn
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
    )
    WHERE rn = 1
    ORDER BY n_name
    """,
    "join",
    "window",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    return (
        windows.top_k(joined, "n_name", ["s_acctbal", "s_suppkey"], 1, rank="rn")
        .select("n_name", "s_name", "s_acctbal")
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Returned-items revenue top-k (TPC-H Q10 shape): customer revenue from
# returned lineitems over a quarter. Fact-fact join on orderkey then a
# broadcast dim join; TakeOrderedAndProject caps driver transfer at k rows.
# ---------------------------------------------------------------------------


@q(
    "returned_items_topk",
    """
    SELECT c.c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c.c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "join",
    "topk",
)
def returned_items_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Window frames: per-customer moving average over the last 3 orders
# (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + lead/lag gaps. Frame specs
# are SURVEY §2.6's "validated even though the reference only needs W1-W5".
# Deterministic: ordering key includes the unique o_orderkey.
# ---------------------------------------------------------------------------


@q(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER w3, 3) AS moving_avg_3,
           round(o_totalprice - lag(o_totalprice, 1, o_totalprice)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    WHERE o_custkey % 100 = 7
    WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
    "window",
    "frame",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 7)
    wbase = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = wbase.rowsBetween(-2, 0)
    wrun = wbase.rowsBetween(Window.unboundedPreceding, 0)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            # round(3), not 2: prices are exact 2-decimal values, so a
            # 2-row frame average lands EXACTLY on a half-cent (x.465) —
            # engines' doubles straddle the round(2) boundary. 3 decimals
            # is past the last meaningful digit, so no boundary exists.
            F.round(F.avg("o_totalprice").over(w3), 3).alias("moving_avg_3"),
            F.round(
                F.col("o_totalprice")
                - F.lag("o_totalprice", 1, None).over(wbase),
                2,
            ).alias("delta_prev"),
            F.round(F.sum("o_totalprice").over(wrun), 2).alias("running_total"),
        )
        .withColumn("delta_prev", F.coalesce(F.col("delta_prev"), F.lit(0.0)))
        .orderBy("o_custkey", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Distribution analytics: ntile quartiles + percent_rank/cume_dist over
# order value. Single global window at test scale; at 100 TB the same
# query would pre-bucket by range partition (percentile via approx).
# ---------------------------------------------------------------------------


@q(
    "ntile_quartiles",
    """
    SELECT quartile, count(*) AS n_orders,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM (
      SELECT o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY quartile
    ORDER BY quartile
    """,
    "window",
    "ranking",
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile(4) via windows.distributed_ntile — range-partitioned
    rank + arithmetic tiling, NO Exchange SinglePartition (the r2/r3
    global-window shape funneled every order through one task's sort)."""
    from milvus_cdc_spark.operators.windows import distributed_ntile

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_totalprice", "o_orderkey")
    )
    tiled = distributed_ntile(
        o, 4, ["o_totalprice", "o_orderkey"], tile_col="quartile"
    )
    return (
        tiled.groupBy("quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("quartile")
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond rollup/cube already covered): revenue by
# (region, nation), (region), and grand total in one pass. Expressed via
# SQL on temp views — the engine exposes both surfaces.
# ---------------------------------------------------------------------------


@q(
    "grouping_sets_revenue",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    ORDER BY region, nation
    """,
    "agg",
    "grouping-sets",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    joined.createOrReplaceTempView("_gs_supplier_geo")
    return spark.sql(
        """
        SELECT coalesce(r_name, 'ALL') AS region,
               coalesce(n_name, 'ALL') AS nation,
               count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS total_bal
        FROM _gs_supplier_geo
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        ORDER BY region, nation
        """
    )


# ---------------------------------------------------------------------------
# Exact percentiles (linear interpolation) per market segment — matches
# DuckDB quantile_cont. At 100 TB this becomes approx_percentile (sketch
# merge, no global sort); the exact form is the correctness anchor.
# ---------------------------------------------------------------------------


@q(
    "percentile_acctbal",
    """
    SELECT c_mktsegment,
           round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
           round(quantile_cont(c_acctbal, 0.50), 4) AS p50,
           round(quantile_cont(c_acctbal, 0.75), 4) AS p75,
           round(quantile_cont(c_acctbal, 0.95), 4) AS p95
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    "agg",
    "percentile",
)
def percentile_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(c_acctbal, 0.50)"), 4).alias("p50"),
            F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("p75"),
            F.round(F.expr("percentile(c_acctbal, 0.95)"), 4).alias("p95"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Pivot: order counts by priority × status. Spark's pivot() compiles to
# the same conditional aggregation the oracle spells out — one shuffle.
# ---------------------------------------------------------------------------


@q(
    "pivot_priority_status",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "agg",
    "pivot",
)
def pivot_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint (north-star text analysis): a
# position-weighted polynomial hash over whitespace tokens, computed with
# the same integer formula on both engines (posexplode ↔ generate_subscripts).
# Scales linearly: explode + keyed agg, no driver involvement.
# ---------------------------------------------------------------------------


@q(
    "rolling_hash_fingerprint",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents WHERE doc_id % 20 = 0
    ),
    hashed AS (
      SELECT doc_id, pos,
             (length(tok) * 131 + coalesce(ascii(tok), 0) * 31
              + coalesce(ascii(reverse(tok)), 0)) AS tok_h
      FROM toks WHERE tok <> '' AND regexp_matches(tok, '^[ -~]+$')
    )
    SELECT doc_id,
           CAST(sum(tok_h * (((pos - 1) % 64) + 1)) % 2147483647 AS BIGINT) AS fingerprint,
           count(*) AS n_tokens
    FROM hashed
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "text",
    "fingerprint",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok"))
        .filter(F.col("tok") != "")
        # ASCII-only tokens: keeps the portable hash identical across
        # engines regardless of how each indexes multibyte characters
        .filter(F.col("tok").rlike("^[ -~]+$"))
    )
    tok_h = (
        F.length("tok") * 131
        + F.coalesce(F.ascii("tok"), F.lit(0)) * 31
        + F.coalesce(F.ascii(F.reverse(F.col("tok"))), F.lit(0))
    )
    return (
        toks.withColumn("tok_h", tok_h.cast("long"))
        .groupBy("doc_id")
        .agg(
            (F.sum(F.col("tok_h") * ((F.col("pos0") % 64) + 1)) % 2147483647).alias(
                "fingerprint"
            ),
            F.count("*").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Skew-salted join: l_returnflag has 3 values across all of lineitem — the
# canonical hot-key shape. salted_join spreads each key over n_salts
# reducers; the result is provably identical to the plain equi-join the
# oracle runs.
# ---------------------------------------------------------------------------


@q(
    "salted_skew_join",
    """
    SELECT flag_desc, count(*) AS n_items, round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    JOIN (VALUES ('R', 'returned'), ('A', 'acknowledged'), ('N', 'none'))
         AS d(l_returnflag, flag_desc)
      USING (l_returnflag)
    GROUP BY flag_desc
    ORDER BY flag_desc
    """,
    "join",
    "skew",
    "salting",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    dim = _local_frame(spark, 
        [("R", "returned"), ("A", "acknowledged"), ("N", "none")],
        "l_returnflag string, flag_desc string",
    )
    return (
        salted_join(li, dim, key="l_returnflag", n_salts=8)
        .groupBy("flag_desc")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .orderBy("flag_desc")
    )


# ---------------------------------------------------------------------------
# BM25 relevance (reference parity: BM25 FunctionSchema declarations are
# hydrated at etcd_op.go:666-691; scoring implemented here Spark-first).
# ---------------------------------------------------------------------------


@q(
    "bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok IN ('join', 'vector', 'stream')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
      FROM tf
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
    "text",
    "bm25",
    "llm",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics.textrank import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, ["join", "vector", "stream"])
    return (
        scored.select("doc_id", F.round("bm25", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Milvus 2.5 full-text search (milvus.io Full Text Search): a BM25
# Function maps VARCHAR → SPARSE_FLOAT_VECTOR, indexed with
# SPARSE_INVERTED_INDEX, searched by raw text. Engine shape: the
# postings-frame index (textrank.bm25_index, doc-side tf weights +
# query-time idf) queried via sparse dot product — must score exactly
# like direct BM25 (unit-tested), so the oracle is the direct form.
# ---------------------------------------------------------------------------


@q(
    "fulltext_sparse_search",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok IN ('batch', 'data', 'query')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
      FROM tf
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
    "text",
    "bm25",
    "sparse",
    "fulltext",
    "llm",
)
def fulltext_sparse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text search through the sparse posting index
    (textrank.bm25_index → fulltext_search): build once, query by
    posting-list join."""
    from milvus_cdc_spark.analytics.textrank import bm25_index, fulltext_search

    docs = _t(spark, sf_dir, "documents")
    # r14: widen the index build (interleaved A/B winner here)
    index = bm25_index(docs, widen=True)
    scored = fulltext_search(index, ["batch", "data", "query"])
    return (
        scored.select("doc_id", F.round("bm25", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Milvus 2.5 hybrid semantic + full-text search (milvus.io Hybrid Search
# with a dense vector branch and a BM25 sparse branch fused by
# RRFRanker): the flagship 2.5 retrieval pattern. Branches restricted to
# the shared id space (< 500, present at every sf); the dense branch is
# exact cosine top-10 for query vec 0, the text branch is the sparse
# posting index's top-10 for a term query, fused by similarity.rrf_fuse.
# ---------------------------------------------------------------------------


@q(
    "hybrid_dense_fulltext_rrf",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
    dense_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id AND c.vec_id < 500
    ),
    dense AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (ORDER BY sim DESC, neighbor_id) AS rank
        FROM dense_scored
      ) WHERE rank <= 10
    ),
    toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents WHERE doc_id < 500
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok IN ('batch', 'data', 'query')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    bm AS (
      SELECT tf.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
      FROM tf
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    text AS (
      SELECT * FROM (
        SELECT 0 AS query_id, doc_id AS neighbor_id,
               row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS rank
        FROM bm
      ) WHERE rank <= 10
    ),
    u AS (
      SELECT query_id, neighbor_id, rank FROM dense
      UNION ALL
      SELECT query_id, neighbor_id, rank FROM text
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      FROM u GROUP BY 1, 2
    )
    SELECT query_id, fused_rank, neighbor_id, rrf_score FROM (
      SELECT query_id, neighbor_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, neighbor_id)
               AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 10
    ORDER BY query_id, fused_rank
    """,
    "vector",
    "text",
    "hybrid",
    "fulltext",
    "rrf",
    "llm",
)
def hybrid_dense_fulltext_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense ANN branch + sparse BM25 branch → RRF fusion
    (similarity.rrf_fuse): the Milvus 2.5 hybrid retrieval shape.

    Measured leave (r14: 1.02/0.93; r15 re-run on two calmer blocks:
    1.05/1.12): bm25_index(widen=True) stays off — the 500-doc filtered
    index build is too light to repay the exchange."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.analytics.textrank import bm25_index, fulltext_search

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    dense = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=10
    )
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    bm = fulltext_search(bm25_index(docs), ["batch", "data", "query"])
    text = windows.top_k(
        bm.select(
            F.lit(0).alias("query_id"),
            F.col("doc_id").alias("neighbor_id"),
            F.round("bm25", 4).alias("s"),
        ),
        "query_id",
        [F.col("s").desc(), F.col("neighbor_id").asc()],
        10,
    )
    return similarity.rrf_fuse(
        dense.select("query_id", "neighbor_id", "rank"),
        text.select("query_id", "neighbor_id", "rank"),
        topk=10,
    ).orderBy("query_id", "fused_rank")


# ---------------------------------------------------------------------------
# Composite training-data ingest pipeline: language filter → quality gate
# → exact dedup (keep canonical doc) → per-source corpus stats. The chain
# a 100 TB ingest run executes nightly; every stage is one of the
# engine's tested operators composed declaratively.
# ---------------------------------------------------------------------------


@q(
    "corpus_pipeline",
    """
    WITH scored AS (
      SELECT doc_id, source, text,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
      WHERE lang = 'en'
    ),
    quality AS (
      SELECT * FROM scored WHERE n_tokens BETWEEN 20 AND 5000
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_tokens), 4) AS avg_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY source
    ORDER BY source
    """,
    "llm",
    "pipeline",
    "text",
)
def corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    scored = docs.select(
        "doc_id",
        "source",
        textf.token_count(F.col("text")).alias("n_tokens"),
        textf.fingerprint(F.col("text")).alias("fp"),
    )
    quality = scored.filter(F.col("n_tokens").between(20, 5000))
    # keep the min-doc_id row per fingerprint: doc_id is unique, so
    # min(struct(doc_id, ...)) picks exactly the row the row_number
    # window would — as a partial-aggregating extremum (struct-typed
    # buffers run as SortAggregate, but the map-side combine collapses
    # the group before the exchange; rows are skinny scalars) instead
    # of a per-fp window sort.
    deduped = (
        quality.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "n_tokens")).alias("_m"))
        .select(F.col("_m.source").alias("source"), F.col("_m.n_tokens").alias("n_tokens"))
    )
    return (
        deduped.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long): part metrics melted to (metric, value) rows.
# Spark's unpivot compiles to the same expand the UNION ALL oracle writes.
# ---------------------------------------------------------------------------


@q(
    "unpivot_part_metrics",
    """
    SELECT metric, count(*) AS n, round(avg(value), 4) AS avg_value
    FROM (
      SELECT 'p_size' AS metric, p_size::DOUBLE AS value FROM part
      UNION ALL
      SELECT 'p_retailprice' AS metric, p_retailprice AS value FROM part
    )
    GROUP BY metric
    ORDER BY metric
    """,
    "reshape",
    "unpivot",
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    )
    melted = p.unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")
    return (
        melted.groupBy("metric")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
        .orderBy("metric")
    )


# ---------------------------------------------------------------------------
# Bag-semantics set ops: exceptAll / intersectAll keep duplicates —
# SURVEY §2.7's diff-tool semantics at multiplicity level.
# ---------------------------------------------------------------------------


@q(
    "bag_set_ops",
    """
    WITH hi AS (SELECT c_nationkey FROM customer WHERE c_acctbal > 5000),
         auto AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
    SELECT 'except_all' AS op, count(*) AS n
    FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM auto)
    UNION ALL
    SELECT 'intersect_all' AS op, count(*) AS n
    FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM auto)
    ORDER BY op
    """,
    "set-ops",
)
def bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_nationkey")
    ex = hi.exceptAll(auto).agg(F.count("*").alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    inter = hi.intersectAll(auto).agg(F.count("*").alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    return ex.unionByName(inter).orderBy("op")


# ---------------------------------------------------------------------------
# Pure scan-filter-agg (TPC-H Q6): the pushdown benchmark — every
# predicate reaches the parquet scan, no joins, one partial+final agg.
# ---------------------------------------------------------------------------


@q(
    "forecast_revenue_change",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 25
    """,
    "agg",
    "pushdown",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Max-of-aggregate join-back (TPC-H Q15 shape): supplier(s) achieving the
# maximum quarterly revenue. The scalar max over an aggregate becomes a
# one-row broadcast against the same aggregate.
# ---------------------------------------------------------------------------


@q(
    "top_supplier_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
    "join",
    "subquery",
    "agg",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Share-of-total HAVING (TPC-H Q11 shape): nations whose suppliers hold
# more than 3% of global account balance. HAVING against a scalar
# aggregate → broadcast one-row threshold.
# ---------------------------------------------------------------------------


@q(
    "nation_balance_share",
    """
    SELECT n_name, round(sum(s_acctbal), 2) AS nation_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING sum(s_acctbal) > (SELECT sum(s_acctbal) * 0.03 FROM supplier)
    ORDER BY nation_bal DESC, n_name
    """,
    "agg",
    "subquery",
    "having",
)
def nation_balance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("s_acctbal").alias("raw_bal"))
    )
    threshold = s.agg((F.sum("s_acctbal") * 0.03).alias("cutoff"))
    return (
        per_nation.join(F.broadcast(threshold))
        .filter(F.col("raw_bal") > F.col("cutoff"))
        .select("n_name", F.round("raw_bal", 2).alias("nation_bal"))
        .orderBy(F.desc("nation_bal"), "n_name")
    )


# ---------------------------------------------------------------------------
# Nested semi-join (TPC-H Q20 shape): suppliers that shipped any PROMO
# part — a semi-join whose inner side is itself a semi-join.
# ---------------------------------------------------------------------------


@q(
    "nested_semi_promo_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l_shipdate >= TIMESTAMP '1998-01-01'
    )
    ORDER BY s_suppkey
    """,
    "join",
    "semi-join",
    "subquery",
)
def nested_semi_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    promo_li = li.join(
        F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi"
    ).select("l_suppkey")
    return (
        s.join(
            promo_li.withColumnRenamed("l_suppkey", "s_suppkey"), "s_suppkey", "left_semi"
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Analytic-function completeness: rank / percent_rank / cume_dist /
# first_value / last_value / lead in one pass (SURVEY §2.6 note).
# ---------------------------------------------------------------------------


@q(
    "rank_analytics",
    """
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_key,
           lead(o_orderkey, 1, -1) OVER w AS next_key
    FROM orders
    WHERE o_custkey % 200 = 11
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, rnk
    """,
    "window",
    "ranking",
    "analytic",
)
def rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 200 == 11)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("o_orderkey").over(w).alias("first_key"),
            F.last("o_orderkey").over(wfull).alias("last_key"),
            F.lead("o_orderkey", 1, -1).over(w).alias("next_key"),
        )
        .orderBy("o_custkey", "rnk")
    )


# ---------------------------------------------------------------------------
# BinaryVector surrogate + Hamming top-k (SURVEY §1.3: BinaryVector →
# packed bits; Milvus HAMMING metric). Sign bits of the embedding packed
# into one BIGINT; distance = bit_count(xor) — a single instruction per
# pair, the cheapest vector pre-filter at 100 TB.
# ---------------------------------------------------------------------------

_SQL_SIGNBITS = (
    "("
    + " + ".join(
        f"(CASE WHEN embedding[{i + 1}] >= 0 THEN CAST({2 ** i} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for i in range(63)
    )
    + ")"
)


@q(
    "hamming_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, {_SQL_SIGNBITS} AS bits FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, bits AS qbits FROM sig WHERE vec_id < 5),
    scored AS (
      SELECT query_id, s.vec_id AS neighbor_id,
             bit_count(xor(s.bits, q.qbits)) AS hamming
      FROM sig s, q WHERE s.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, hamming
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "binary-vector",
    "hamming",
    "llm",
)
def hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOTE (r14, measured): widening the corpus side before this
    # crossJoin was a wash-to-loss in two interleaved A/Bs (0.93 then
    # 1.30) — one xor+popcount per pair is too cheap to repay the extra
    # exchange, unlike the maxsim scorers. Left on the single scan.
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id", vecf.sign_bits_i64(F.col("embedding"), 63).alias("bits")
    )
    qsig = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("bits").alias("qbits")
    )
    scored = similarity.search_pairs(
        sig, qsig, vecf.hamming_i64(F.col("bits"), F.col("qbits")).alias("hamming")
    )
    return (
        windows.top_k(scored, "query_id", ["hamming", "neighbor_id"], 3)
        .select("query_id", "rank", "neighbor_id", "hamming")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# SparseFloatVector dot-product retrieval (SURVEY §1.3): above-threshold
# components as (id, dim, val) posting rows; top-k = inverted-index join.
# ---------------------------------------------------------------------------


@q(
    "sparse_topk",
    """
    WITH comp AS (
      SELECT vec_id,
             unnest(embedding::DOUBLE[]) AS val,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    sparse AS (SELECT vec_id, dim, val FROM comp WHERE abs(val) >= 0.2),
    q AS (SELECT vec_id AS query_id, dim, val AS qval FROM sparse WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, s.vec_id AS neighbor_id,
             round(sum(s.val * q.qval), 6) AS sim
      FROM sparse s JOIN q USING (dim)
      WHERE s.vec_id != q.query_id
      GROUP BY q.query_id, s.vec_id
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
    "sparse",
    "llm",
)
def sparse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    rows = similarity.sparse_rows(emb, threshold=0.2)
    qrows = rows.filter(F.col("vec_id") < 5)
    return similarity.sparse_topk(rows, qrows, k=3).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Six-way join with paired-dimension predicate (TPC-H Q7 shape): shipping
# volume between two nations in either direction, by year. Exercises
# Catalyst's join reordering across two independent dimension chains
# (customer→nation, supplier→nation) hanging off the same fact spine.
# ---------------------------------------------------------------------------


@q(
    "bi_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    "join",
    "multi-join",
)
def bi_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Market-share ratio (TPC-H Q8 shape): one nation's share of regional
# revenue per year — a conditional-sum ratio on top of the full join
# spine (fact + orders + customer + nation + region).
# ---------------------------------------------------------------------------


@q(
    "market_share",
    """
    SELECT l_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    )
    GROUP BY l_year
    ORDER BY l_year
    """,
    "join",
    "multi-join",
    "conditional-agg",
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = n.select(F.col("n_nationkey").alias("ck"), F.col("n_regionkey").alias("crk"))
    n1 = n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .join(F.broadcast(r), F.col("crk") == F.col("r_regionkey"), "left_semi")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .withColumn("l_year", F.year("o_orderdate"))
        .withColumn("volume", vol)
        .groupBy("l_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                        0.0
                    )
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("l_year")
    )


# ---------------------------------------------------------------------------
# Double-correlated EXISTS / NOT EXISTS (TPC-H Q21 shape): suppliers who
# were the ONLY late shipper on a multi-supplier order. Two correlated
# subqueries against the same fact — the heaviest decorrelation pattern
# in the TPC-H set: one left-semi and one left-anti join keyed on
# (orderkey) with a supplier-inequality residual.
# ---------------------------------------------------------------------------


@q(
    "sole_late_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "join",
    "subquery",
    "semi-join",
    "anti-join",
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late_cut = F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    l1 = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > late_cut)
        .select("l_orderkey", "l_suppkey")
    )
    # EXISTS: another supplier on the same order
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    with_other = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    # NOT EXISTS: no OTHER supplier was also late on that order
    l3 = l1.select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    sole = with_other.join(
        l3,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Multi-probe sign-LSH (recall/cost dial): queries probe their own bucket
# plus each single-bit-flip neighbor.
# ---------------------------------------------------------------------------


def _sql_bucket(flip: int | None) -> str:
    cases = []
    for i in range(4):
        pos, neg = ("1", "0") if flip != i else ("0", "1")
        cases.append(
            f"CASE WHEN embedding[{i + 1}] >= 0 THEN '{pos}' ELSE '{neg}' END"
        )
    return "(" + " || ".join(cases) + ")"


_SQL_PROBES = "[" + ", ".join(
    _sql_bucket(f) for f in [None, 0, 1, 2, 3]
) + "]"

_SQL_COSINE_CQ = """
  round(
    list_sum(list_transform(list_zip(c.embedding::DOUBLE[], q.embedding::DOUBLE[]),
                            p -> p[1] * p[2]))
    / (sqrt(list_sum(list_transform(c.embedding::DOUBLE[], x -> x * x)))
       * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))),
    6)
"""


@q(
    "ann_multiprobe_topk",
    f"""
    WITH c AS (
      SELECT vec_id, embedding, {_sql_bucket(None)} AS bucket FROM embeddings
    ),
    q AS (
      SELECT vec_id, embedding, unnest({_SQL_PROBES}) AS bucket
      FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE_CQ} AS sim
      FROM c JOIN q ON c.bucket = q.bucket
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
    "ann",
    "multi-probe",
    "llm",
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bit multi-probe LSH: ~(n_bits+1)x the candidates of the
    plain bucket search, recall much closer to brute force."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.multiprobe_topk(emb, queries, k=3, n_bits=4).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# Windowed anomaly detection over the events stream: hourly error-rate
# spikes vs the previous hour (conditional agg + lag). The realtime-ops
# query every CDC deployment runs on its own telemetry.
# ---------------------------------------------------------------------------


@q(
    "error_spike_detection",
    """
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
             count(*) AS n_events
      FROM events
      GROUP BY 1
    ),
    rated AS (
      SELECT hour_start, n_errors, n_events,
             round(n_errors * 1.0 / n_events, 6) AS err_rate,
             round(lag(n_errors * 1.0 / n_events) OVER (ORDER BY hour_start), 6)
               AS prev_rate
      FROM hourly
    )
    SELECT hour_start, n_errors, n_events, err_rate
    FROM rated
    WHERE prev_rate IS NOT NULL AND err_rate > 2 * prev_rate AND n_errors >= 5
    ORDER BY hour_start
    """,
    "streaming-analog",
    "window",
    "anomaly",
)
def error_spike_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate spikes vs the previous EXISTING hour bucket.

    The lag is a rank self-join (distributed_row_number over hour_start,
    then an equi-join on rn = rn−1), not a lag() over an unpartitioned
    window: the window funneled the whole bucket table through one
    task's sort (Exchange SinglePartition), and unlike the histogram
    sketch the bucket count here grows with the corpus's TIME SPAN, so
    no static bound exists to plant. Rank semantics == lag semantics
    (previous existing bucket, gaps included) regardless of missing
    hours (r12 full gate sweep)."""
    from milvus_cdc_spark.operators.windows import distributed_row_number

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
            F.count("*").alias("n_events"),
        )
        .select(F.col("w.start").alias("hour_start"), "n_errors", "n_events")
    )
    rate = F.col("n_errors") / F.col("n_events")
    ranked = distributed_row_number(hourly, ["hour_start"], rank_col="rn")
    prev = ranked.select(
        (F.col("rn") + 1).alias("rn"),
        F.round(rate, 6).alias("prev_rate"),
    )
    return (
        ranked.join(prev, "rn")
        .filter(
            (F.round(rate, 6) > 2 * F.col("prev_rate"))
            & (F.col("n_errors") >= 5)
        )
        .select(
            "hour_start",
            "n_errors",
            "n_events",
            F.round(rate, 6).alias("err_rate"),
        )
        .orderBy("hour_start")
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the driver fixtures ship no partsupp table, so TPC-H
# Q9/Q16 derive one deterministically from part × {0..3} with pure integer
# arithmetic (the same trick as oplog.derive_oplog) — both engines compute
# bit-identical rows, so the shapes stay oracle-checkable. Supplier keys are
# taken modulo the supplier count (computed from the table, not assumed),
# then inner-joined back to supplier so only real suppliers survive.
#
# Scale note: partsupp is |part| × 4 rows built from a broadcast 4-row seq —
# no shuffle to derive; the downstream joins are ordinary shuffled/broadcast
# equi-joins Catalyst plans like any TPC-H run.
# ---------------------------------------------------------------------------

ORACLE_PARTSUPP_SQL = """
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 7 + i * 13) % (SELECT count(*) FROM supplier) AS ps_suppkey,
           (p_partkey * 11 + i * 17) % 9999 + 1 AS ps_availqty,
           CAST((p_partkey * 31 + i * 19) % 100000 AS DOUBLE) / 100.0 + 1.0
             AS ps_supplycost
    FROM part CROSS JOIN (VALUES (0), (1), (2), (3)) AS seq(i)
"""


def derive_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    supplier = _t(spark, sf_dir, "supplier")
    n_supp = supplier.agg(F.count("*").alias("n_supp"))
    seq = spark.range(4).select(F.col("id").cast("int").alias("i"))
    return (
        part.crossJoin(F.broadcast(seq))
        .crossJoin(F.broadcast(n_supp))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 7 + F.col("i") * 13) % F.col("n_supp")).alias(
                "ps_suppkey"
            ),
            ((F.col("p_partkey") * 11 + F.col("i") * 17) % 9999 + 1).alias(
                "ps_availqty"
            ),
            (
                ((F.col("p_partkey") * 31 + F.col("i") * 19) % 100000).cast("double")
                / 100.0
                + 1.0
            ).alias("ps_supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 (product-type profit): nation × year profit over the full
# 6-table join. At scale: part filter pushes into the scan, partsupp joins
# lineitem on (partkey, suppkey) as a shuffled equi-join, supplier/nation
# broadcast. Reference parity: the relational surface a CDC consumer runs
# downstream (SURVEY §2.7).
# ---------------------------------------------------------------------------


@q(
    "tpch_q9_product_profit",
    f"""
    WITH partsupp AS ({ORACLE_PARTSUPP_SQL})
    SELECT n_name AS nation,
           CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
           -- exact integer-cents accounting: per-row half-up via floor(x+0.5)
           -- (identical IEEE arithmetic in both engines, no float-sum-order
           -- or rounding-mode drift), summed exactly as BIGINT
           CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                                - ps_supplycost * l_quantity) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100.0 AS profit
    FROM lineitem
    JOIN orders    ON o_orderkey = l_orderkey
    JOIN partsupp  ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part      ON p_partkey = l_partkey
    JOIN supplier  ON s_suppkey = l_suppkey
    JOIN nation    ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
    "join",
    "multi-join",
    "agg",
    "tpch",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey"
    )
    supplier = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ps = derive_partsupp(spark, sf_dir)
    # integer-cents per row (floor(x*100+0.5) = half-up, engine-portable),
    # so the aggregate is an exact BIGINT sum — no float-order drift
    profit_cents = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("ps_supplycost") * F.col("l_quantity")
        )
        * 100
        + 0.5
    ).cast("long")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_cents).cast("double") / 100.0).alias("profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 (supplier-part relationships): distinct suppliers per
# (brand, type, size) bucket, excluding a deterministic "complaints"
# blacklist (s_suppkey % 7 = 3 — the fixtures carry no comment column, so
# the blacklist analog is arithmetic; semantics of the NOT IN anti-join are
# the TPC-H ones). At scale: partsupp×part shuffled equi-join with the
# filter pushed down, blacklist broadcast-anti, distinct-agg shuffles once.
# ---------------------------------------------------------------------------


@q(
    "tpch_q16_supplier_parts",
    f"""
    WITH partsupp AS ({ORACLE_PARTSUPP_SQL})
    SELECT p_brand, p_type, p_size,
           count(DISTINCT ps_suppkey) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 7 = 3)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "join",
    "anti-join",
    "distinct-agg",
    "tpch",
)
def tpch_q16_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    blacklist = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 3)
        .select("s_suppkey")
    )
    ps = derive_partsupp(spark, sf_dir)
    return (
        ps.join(
            F.broadcast(blacklist),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# ---------------------------------------------------------------------------
# Training-corpus preparation: chunking + deterministic data mixing
# (analytics/corpus.py). The two ops between raw documents and the
# tokenizer in every LLM data pipeline.
# ---------------------------------------------------------------------------


@q(
    "doc_chunking",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents WHERE doc_id < 50
    ),
    sized AS (
      SELECT doc_id, tk,
             1 + (greatest(len(tk) - 48, 0) + 31) // 32 AS n_chunks
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, unnest(range(n_chunks)) AS chunk_id, tk
      FROM sized
    )
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(list_slice(tk, chunk_id * 32 + 1, chunk_id * 32 + 48))
                AS INT) AS n_tokens,
           md5(array_to_string(
                 list_slice(tk, chunk_id * 32 + 1, chunk_id * 32 + 48), ' '))
             AS chunk_fp
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    "llm",
    "chunking",
    "pipeline",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→48-token overlapping windows per document; the md5 of each
    chunk's text proves content equality cross-engine, not just counts."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    ch = corpus.chunk_documents(docs, chunk_tokens=48, overlap=16)
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("int"),
        F.col("n_tokens").cast("int"),
        F.md5("chunk_text").alias("chunk_fp"),
    ).orderBy("doc_id", "chunk_id")


_MIX_RATES = (("src0", 200), ("src3", 500), ("src7", 800))

_SQL_MIX_RATES = ", ".join(f"('{s}', {r})" for s, r in _MIX_RATES)


@q(
    "stratified_mixing",
    f"""
    WITH rates(source, rate_permille) AS (VALUES {_SQL_MIX_RATES}),
    gated AS (
      SELECT d.source,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 256
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1))
               % 1000 AS h,
             coalesce(r.rate_permille, 1000) AS rate
      FROM documents d LEFT JOIN rates r ON d.source = r.source
    )
    SELECT source, count(*) AS n_kept
    FROM gated WHERE h < rate
    GROUP BY source
    ORDER BY source
    """,
    "llm",
    "sampling",
    "data-mixing",
    "pipeline",
)
def stratified_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling: downweighted sources
    keep a hash-stable subset; unlisted sources keep everything."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    rates = _local_frame(docs.sparkSession, 
        list(_MIX_RATES), "source string, rate_permille bigint"
    )
    return (
        corpus.stratified_sample(docs, rates)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("source")
    )


@q(
    "vocab_build",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                t -> t <> '')) AS term
      FROM documents
    ),
    dfreq AS (
      SELECT term, count(*) AS df FROM toks GROUP BY term HAVING count(*) >= 2
    )
    SELECT CAST(row_number() OVER (ORDER BY df DESC, term) - 1 AS BIGINT)
             AS token_id,
           term,
           CAST(df AS BIGINT) AS df
    FROM dfreq
    ORDER BY token_id
    """,
    "llm",
    "vocab",
    "pipeline",
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary: document frequencies with stable
    (df desc, term) rank ids, min_df=2."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    v = corpus.build_vocab(docs, min_df=2)
    return v.select(
        F.col("token_id").cast("bigint"), "term", F.col("df").cast("bigint")
    ).orderBy("token_id")


@q(
    "sequence_packing",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents WHERE doc_id < 100
    ),
    sized AS (
      SELECT doc_id, tk, 1 + (greatest(len(tk) - 48, 0) + 31) // 32 AS n_chunks
      FROM toks
    ),
    exploded AS (
      SELECT doc_id, tk, unnest(range(n_chunks)) AS chunk_id FROM sized
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             len(list_slice(tk, chunk_id * 32 + 1, chunk_id * 32 + 48))
               AS n_tokens
      FROM exploded
    ),
    sharded AS (
      SELECT doc_id, chunk_id, n_tokens,
             CAST(((strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
                   + (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
                   + (strpos('0123456789abcdef',
                             substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1))
                  % 8 AS INT) AS shard_id
      FROM chunks
    ),
    run AS (
      SELECT shard_id, doc_id, chunk_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard_id
               ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM sharded
    )
    SELECT shard_id,
           CAST(before // 128 AS INT) AS pack_id,
           count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM run
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "llm",
    "packing",
    "pipeline",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk then pack into 128-token training sequences via a
    shard-partitioned running-sum window (greedy contiguous, whole
    chunks; the md5 shard key keeps every window task corpus-fractional —
    no global sort). Oracle shards with the identical md5 arithmetic."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    ch = corpus.chunk_documents(docs, chunk_tokens=48, overlap=16)
    packs = corpus.pack_sequences(ch, seq_len=128, n_shards=8)
    return packs.select(
        "shard_id",
        "pack_id",
        F.col("n_chunks").cast("bigint"),
        F.col("pack_tokens").cast("bigint"),
    ).orderBy("shard_id", "pack_id")


_SQL_DOC_HASH = """
      ((strpos('0123456789abcdef',
               substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 256
       + (strpos('0123456789abcdef',
                 substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 16
       + (strpos('0123456789abcdef',
                 substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1)) % 1000
"""


@q(
    "temperature_mixing_rates",
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    tot AS (
      SELECT sum(pow(n_docs, 0.7)) AS z, sum(n_docs) AS n_total FROM counts
    ),
    w AS (
      SELECT c.source, c.n_docs,
             pow(c.n_docs, 0.7) / t.z AS p,
             least(1000, round(1000 * 0.5 * t.n_total
                               * (pow(c.n_docs, 0.7) / t.z) / c.n_docs))
               AS rate
      FROM counts c, tot t
    ),
    gated AS (
      SELECT d.source, {_SQL_DOC_HASH} AS h FROM documents d
    ),
    kept AS (
      SELECT g.source, count(*) AS n_kept
      FROM gated g JOIN w ON g.source = w.source
      WHERE g.h < w.rate
      GROUP BY g.source
    )
    SELECT w.source,
           CAST(w.n_docs AS BIGINT) AS n_docs,
           round(w.p, 6) AS p_s,
           CAST(w.rate AS BIGINT) AS rate_permille,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM w LEFT JOIN kept k ON w.source = k.source
    ORDER BY w.source
    """,
    "llm",
    "sampling",
    "data-mixing",
    "temperature",
    "pipeline",
)
def temperature_mixing_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling (alpha=0.7) to half the corpus
    (corpus.temperature_weights), then the deterministic hash gate
    applies those rates (corpus.stratified_sample) — per-source target
    probability, permille rate, and actually-kept count."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    w = corpus.temperature_weights(docs, alpha=0.7, budget_frac=0.5)
    kept = (
        corpus.stratified_sample(docs, w.select("source", "rate_permille"))
        .groupBy("source")
        .agg(F.count("*").alias("_k"))
    )
    return (
        w.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "p_s",
            "rate_permille",
            F.coalesce(F.col("_k"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .orderBy("source")
    )


@q(
    "unigram_logprob_quality",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT sum(tf) AS t FROM freq),
    scored AS (
      SELECT k.doc_id, -ln(f.tf / tt.t) AS nll
      FROM toks k JOIN freq f ON k.tok = f.tok, tot tt
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_toks,
           round(avg(nll), 6) AS avg_nll
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    "llm",
    "quality",
    "perplexity",
    "pipeline",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM average negative log-likelihood per document
    (corpus.unigram_logprob) — the CCNet perplexity-filter shape with
    the corpus itself as the LM."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.unigram_logprob(docs).orderBy("doc_id")


_BPE_SQL = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(lower(text), '@PAT@'))) AS BIGINT)
             AS n_pretokens,
           round(avg(len(regexp_extract_all(lower(text), '@PAT@'))), 6)
             AS avg_pretokens
    FROM documents
    GROUP BY source
    ORDER BY source
""".replace("@PAT@", "''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9'']+|\\s+")


@q(
    "bpe_pretoken_stats",
    _BPE_SQL,
    "llm",
    "tokenization",
    "bpe",
    "pipeline",
)
def bpe_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BPE pre-token counts (functions.text.bpe_pretoken_count,
    the GPT-2 pre-tokenizer regex) — the token-budget denomination for
    mixture planning; one scan, map-side-combined aggregate."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    c = textf.bpe_pretoken_count(F.col("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(c).cast("bigint").alias("n_pretokens"),
            F.round(F.avg(c), 6).alias("avg_pretokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C4 badwords gate (Raffel et al. 2020 §2.2: "discarded any page that
# contained any word on the blocklist") — the one named C4 stage the
# quality_filter_funnel composite does not carry. Registered r13 (the
# round's single reviewed addition per the registry discipline); the
# fixture lexicon corpus.C4_BLOCKLIST mixes common/mid/rare tokens so
# the per-source funnel is discriminative at every scale factor.
# ---------------------------------------------------------------------------


@q(
    "blocklist_filter_stats",
    """
    WITH hits AS (
      SELECT source,
             len(list_filter(
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               t -> t != ''),
                   t -> list_contains(['slow', 'dup', 'big'], t))) AS n_hits
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(n_hits) AS BIGINT) AS total_hits,
           CAST((count(*) - sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END))
                * 1000000 // count(*) AS BIGINT) AS kept_ppm
    FROM hits
    GROUP BY source
    ORDER BY source
    """,
    "llm",
    "quality",
    "blocklist",
    "c4",
    "pipeline",
)
def blocklist_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source C4 badwords-gate accounting (corpus.blocklist_stats):
    flagged docs, total lexicon hits, kept share in integer ppm."""
    from milvus_cdc_spark.analytics import corpus as corpus_ops

    docs = _t(spark, sf_dir, "documents")
    return corpus_ops.blocklist_stats(docs)


@q(
    "quality_filter_funnel",
    f"""
    WITH toks2 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) - 1 > 0
                    THEN list_transform(generate_series(1, len(toks) - 1),
                                        i -> array_to_string(toks[i:i+1], ' '))
                    ELSE [] END) AS s
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    rep AS (
      SELECT doc_id, round(max(c) / sum(c)::DOUBLE, 6) AS top_frac
      FROM (SELECT doc_id, s, count(*) AS c FROM toks2 GROUP BY doc_id, s)
      GROUP BY doc_id
    ),
    sig AS (
      SELECT d.doc_id, d.lang,
             len(list_filter(string_split_regex(trim(d.text), '\\s+'),
                             x -> x != '')) AS n_words,
             round(len(list_filter(
                     string_split_regex(trim(lower(d.text)), '\\s+'),
                     x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                   / greatest(len(list_filter(
                       string_split_regex(trim(lower(d.text)), '\\s+'),
                       x -> x != '')), 1), 6) AS stop_r,
             coalesce(r.top_frac, 0.0) AS top_frac
      FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    ),
    verdicts AS (
      SELECT CASE
               WHEN lang != 'en' THEN 'drop_non_english'
               WHEN n_words < 20 THEN 'drop_too_short'
               WHEN stop_r < 0.05 THEN 'drop_low_stopword'
               WHEN top_frac > 0.10 THEN 'drop_repetitive'
               ELSE 'kept'
             END AS stage
      FROM sig
    )
    SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
    FROM verdicts GROUP BY stage ORDER BY stage
    """,
    "llm",
    "quality",
    "filter-funnel",
    "pipeline",
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb/C4-style composite quality filter with first-failing-rule
    attribution: language gate, minimum length, stopword floor (the C4
    'natural text' heuristic), repetition ceiling (Gopher) — each doc is
    charged to the FIRST rule it fails, so the funnel shows where the
    corpus is lost. One scan plus the 2-gram aggregate; every signal is
    a column expression."""
    from milvus_cdc_spark.analytics import corpus as corpus_ops
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    rep = corpus_ops.repetition_stats(docs, n=2).select(
        "doc_id", F.round(F.col("top") / F.col("total"), 6).alias("top_frac")
    )
    sig = docs.join(rep, "doc_id", "left").select(
        "lang",
        textf.token_count(F.col("text")).alias("n_words"),
        F.round(textf.stopword_ratio(F.col("text")), 6).alias("stop_r"),
        F.coalesce(F.col("top_frac"), F.lit(0.0)).alias("top_frac"),
    )
    stage = (
        F.when(F.col("lang") != "en", "drop_non_english")
        .when(F.col("n_words") < 20, "drop_too_short")
        .when(F.col("stop_r") < 0.05, "drop_low_stopword")
        .when(F.col("top_frac") > 0.10, "drop_repetitive")
        .otherwise("kept")
    )
    return (
        sig.select(stage.alias("stage"))
        .groupBy("stage")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("stage")
    )


@q(
    "fulltext_drop_ratio",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                        t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok IN ('batch', 'data', 'query', 'merge')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    qvec AS (
      SELECT tok, ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) AS idf,
             row_number() OVER (
               ORDER BY ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) ASC, tok ASC
             ) AS r,
             count(*) OVER () AS n
      FROM dfreq CROSS JOIN stats
    ),
    keep AS (SELECT tok FROM qvec WHERE r > floor(0.3 * n)),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS score
      FROM tf
      JOIN keep USING (tok)
      JOIN dfreq USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 4) AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT 15
    """,
    "text",
    "bm25",
    "sparse",
    "drop-ratio",
    "llm",
)
def fulltext_drop_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse search with drop_ratio_search=0.3 over a 4-term BM25 query
    (textrank.fulltext_search): the lowest-idf term's posting list is
    skipped entirely — the Milvus SPARSE_INVERTED_INDEX search knob."""
    from milvus_cdc_spark.analytics.textrank import bm25_index, fulltext_search

    docs = _t(spark, sf_dir, "documents")
    # r14: widen the index build (interleaved A/B winner here)
    index = bm25_index(docs, widen=True)
    scored = fulltext_search(
        index, ["batch", "data", "query", "merge"], drop_ratio_search=0.3
    )
    return (
        scored.select("doc_id", F.round("bm25", 4).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(15)
    )


@q(
    "clustering_compaction_stats",
    """
    WITH mx AS (SELECT CAST(max(l_orderkey) AS BIGINT) AS mx FROM lineitem),
    w AS (SELECT mx, greatest(1, CAST(ceil((mx + 1) / 16.0) AS BIGINT)) AS width FROM mx),
    b AS (
      SELECT CAST(floor(CAST(l.l_orderkey AS BIGINT) / w.width) AS BIGINT)
               AS bucket_id,
             CAST(l.l_orderkey AS BIGINT) AS k,
             w.mx AS mx
      FROM lineitem l CROSS JOIN w
    ),
    stats AS (
      SELECT bucket_id, CAST(count(*) AS BIGINT) AS n_rows,
             min(k) AS min_key, max(k) AS max_key, any_value(mx) AS mx
      FROM b GROUP BY bucket_id
    )
    SELECT bucket_id, n_rows, min_key, max_key,
           NOT (max_key < CAST(floor(mx / 4.0) AS BIGINT)
                OR min_key > CAST(floor(mx / 3.0) AS BIGINT)) AS would_scan
    FROM stats
    ORDER BY bucket_id
    """,
    "cdc",
    "clustering-key",
    "compaction",
    "pruning",
)
def clustering_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-compaction PartitionStats (operators.clustering): 16
    range segments of lineitem's clustering key with per-segment key
    zone maps, plus the pruning verdict for a key BETWEEN max/4 AND
    max/3 scan — only the intersecting segments would be read."""
    from milvus_cdc_spark.operators import clustering

    li = _t(spark, sf_dir, "lineitem")
    stats = clustering.range_bucket_stats(li, "l_orderkey", n_buckets=16)
    mx = li.agg(F.max("l_orderkey").cast("bigint").alias("_m"))
    return (
        stats.crossJoin(F.broadcast(mx))
        .select(
            "bucket_id",
            "n_rows",
            "min_key",
            "max_key",
            clustering.prune_verdict(
                F.floor(F.col("_m") / 4.0).cast("bigint"),
                F.floor(F.col("_m") / 3.0).cast("bigint"),
            ).alias("would_scan"),
        )
        .orderBy("bucket_id")
    )


# ---------------------------------------------------------------------------
# Event analytics: ordered funnel conversion and weekly cohort retention
# — the two queries every product-analytics workload runs over an event
# stream. Both are conditional-aggregate + self-join plans keyed on
# user_id: per-user rows are tiny (one per step), the event scan is
# shared, and nothing shuffles wider than (user, step-ts).
# ---------------------------------------------------------------------------


@q(
    "event_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_full_funnel,
           round((SELECT count(*) FROM c)
                 / greatest((SELECT count(*) FROM v), 1)::DOUBLE, 6)
             AS click_rate,
           round((SELECT count(*) FROM p)
                 / greatest((SELECT count(*) FROM c), 1)::DOUBLE, 6)
             AS purchase_rate
    """,
    "events",
    "funnel",
    "analytics",
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view → click → purchase funnel, each step within 7 days
    of the previous step's FIRST occurrence: per-step user counts and
    step conversion rates."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_view_click"))
    np_ = p.agg(F.count("*").alias("n_full_funnel"))
    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            F.col("n_view").cast("bigint").alias("n_view"),
            F.col("n_view_click").cast("bigint").alias("n_view_click"),
            F.col("n_full_funnel").cast("bigint").alias("n_full_funnel"),
            F.round(
                F.col("n_view_click") / F.greatest(F.col("n_view"), F.lit(1)), 6
            ).alias("click_rate"),
            F.round(
                F.col("n_full_funnel")
                / F.greatest(F.col("n_view_click"), F.lit(1)),
                6,
            ).alias("purchase_rate"),
        )
    )


@q(
    "cohort_retention",
    """
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT c.cw, c.user_id,
             CAST(floor((epoch(e.ts) - epoch(c.cw)) / 604800.0) AS BIGINT)
               AS week_offset
      FROM events e JOIN cohort c ON e.user_id = c.user_id
      WHERE e.ts >= c.cw
    )
    SELECT CAST(cw AS DATE) AS cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM active
    WHERE week_offset <= 3
    GROUP BY cw, week_offset
    ORDER BY cohort_week, week_offset
    """,
    "events",
    "cohort",
    "retention",
    "analytics",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly signup-cohort retention matrix: distinct users of each
    signup-week cohort active (any event) at week offsets 0-3. Offsets
    compute from epoch seconds, so both engines bucket identically."""
    ev = _t(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
    )
    active = (
        ev.join(cohort, "user_id")
        .filter(F.col("ts") >= F.col("cw"))
        .select(
            "cw",
            "user_id",
            F.floor(
                (F.unix_timestamp("ts") - F.unix_timestamp("cw")) / 604800.0
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.filter(F.col("week_offset") <= 3)
        .groupBy(F.col("cw").cast("date").alias("cohort_week"), "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


@q(
    "dataset_card_summary",
    """
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '')) AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
             lang
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 6) AS avg_tokens,
           round(count(*) FILTER (lang = 'en') / count(*)::DOUBLE, 6)
             AS pct_en,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
    "llm",
    "dataset-card",
    "corpus",
    "pipeline",
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (the summary block of a data-card /
    datasheet): doc and token counts, language mix, exact-duplicate
    rate — one scan, one map-side-combined aggregate per source; the
    dup count reuses the dedup fingerprint contract."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "lang",
        textf.token_count(F.col("text")).alias("n_tokens"),
        textf.fingerprint(F.col("text")).alias("fp"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(
                F.sum((F.col("lang") == "en").cast("int")) / F.count("*"), 6
            ).alias("pct_en"),
            (F.count("*") - F.countDistinct("fp"))
            .cast("bigint")
            .alias("n_exact_dups"),
        )
        .orderBy("source")
    )


@q(
    "pipeline_stage_accounting",
    f"""
    WITH base AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '')) AS n_tokens,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    en AS (SELECT * FROM base WHERE lang = 'en'),
    q AS (SELECT * FROM en WHERE n_tokens >= 20),
    sh AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) - 2 > 0
                    THEN list_distinct(list_transform(
                           generate_series(1, len(toks) - 2),
                           i -> array_to_string(toks[i:i+2], ' ')))
                    ELSE [] END) AS s
      FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents)
    ),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM sh t JOIN ev ON t.s = ev.s
      WHERE t.doc_id % 97 != 0
    ),
    dc AS (
      SELECT * FROM q
      WHERE doc_id % 97 != 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    uq AS (
      SELECT * FROM (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM dc
      ) WHERE rn = 1
    )
    SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM base
    UNION ALL SELECT '2_lang_en', CAST(count(*) AS BIGINT) FROM en
    UNION ALL SELECT '3_quality', CAST(count(*) AS BIGINT) FROM q
    UNION ALL SELECT '4_decontaminated', CAST(count(*) AS BIGINT) FROM dc
    UNION ALL SELECT '5_unique', CAST(count(*) AS BIGINT) FROM uq
    ORDER BY stage
    """,
    "llm",
    "pipeline",
    "accounting",
    "funnel",
)
def pipeline_stage_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline accounting: raw -> language
    gate -> quality floor -> n-gram decontamination (corpus.decontaminate
    against the doc_id%97 eval set) -> exact dedup; one row per stage
    with surviving doc counts — the per-stage loss report every corpus
    build publishes."""
    from milvus_cdc_spark.analytics import corpus as corpus_ops
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    # base heads every stage arm (5 unioned counts re-derive the
    # token_count + rolling-hash fingerprint projection), and dc — whose
    # lineage embeds the n-gram decontaminate join — heads two; persist
    # each once (the scan audit counted 9 documents scans unpersisted)
    base = cache(docs.select(
        "doc_id",
        "lang",
        textf.token_count(F.col("text")).alias("n_tokens"),
        textf.fingerprint(F.col("text")).alias("fp"),
    ))
    en = base.filter(F.col("lang") == "en")
    q_ = en.filter(F.col("n_tokens") >= 20)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    contaminated = corpus_ops.decontaminate(tr, ev, n=3).select("doc_id")
    dc = cache(
        q_.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
    )
    # stage 5 only COUNTS the surviving canonical docs — one per
    # fingerprint — so a distinct on the 16-byte fp replaces a full
    # per-fp window sort whose picked rows were never read.
    uq = dc.select("fp").distinct()

    def stage(name, df):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").cast("bigint").alias("n_docs"),
        ).select("stage", "n_docs")

    return (
        stage("1_raw", base)
        .unionAll(stage("2_lang_en", en))
        .unionAll(stage("3_quality", q_))
        .unionAll(stage("4_decontaminated", dc))
        .unionAll(stage("5_unique", uq))
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al., arXiv:2302.03169): hashed
# n-gram importance weights for target-domain data selection. Target =
# the English slice; every non-target doc scores sum over its unigram +
# bigram features of log(p_target[bucket] / p_raw[bucket]) over 256 md5
# buckets, accumulated in integer micro-nats (exact integer sums — no
# float-order drift). The oracle mirrors the whole model: counts,
# Laplace smoothing, per-bucket log-ratio micro, per-doc integer sum.
# ---------------------------------------------------------------------------

_DSIR_SQL = """
    WITH base AS MATERIALIZED (
      SELECT doc_id, source, (lang = 'en') AS is_target,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         t -> t != '') AS toks
      FROM documents
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, source, is_target, feat,
             (strpos('0123456789abcdef', substr(md5(feat), 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(feat), 2, 1)) - 1)
               AS bucket
      FROM (
        SELECT doc_id, source, is_target, unnest(toks) AS feat FROM base
        UNION ALL
        SELECT doc_id, source, is_target,
               unnest(CASE WHEN len(toks) - 1 > 0
                      THEN list_transform(
                             generate_series(1, len(toks) - 1),
                             i -> array_to_string(toks[i:i+1], ' '))
                      ELSE [] END)
        FROM base
      )
    ),
    counts AS (
      SELECT bucket,
             sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tgt_n,
             sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS raw_n
      FROM feats GROUP BY bucket
    ),
    tot AS (SELECT sum(tgt_n) AS tt, sum(raw_n) AS rt FROM counts),
    lam AS (
      SELECT bucket,
             CAST(floor((ln((tgt_n + 1) / (tt + 256))
                         - ln((raw_n + 1) / (rt + 256))) * 1e6 + 0.5)
                  AS BIGINT) AS lam_micro
      FROM counts CROSS JOIN tot
    ),
    scored AS (
      SELECT f.doc_id, f.source, f.is_target,
             count(*) AS n_feats, sum(l.lam_micro) AS score_micro
      FROM feats f JOIN lam l ON f.bucket = l.bucket
      GROUP BY f.doc_id, f.source, f.is_target
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score_micro > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           round(sum(score_micro) / sum(n_feats) / 1e6, 6) AS avg_lr
    FROM scored
    WHERE NOT is_target
    GROUP BY source
    ORDER BY source
"""


@q(
    "dsir_importance_selection",
    _DSIR_SQL,
    "llm",
    "dsir",
    "importance-sampling",
    "data-selection",
    "pipeline",
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights (corpus.dsir_weights):
    target = lang='en' docs; per-source summary of the NON-target docs —
    how many score target-like (importance weight > 0) and the mean
    per-feature log-ratio in nats."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    scores = corpus.dsir_weights(docs, F.col("lang") == "en", n_buckets=256)
    src = docs.select("doc_id", "source")
    return (
        scores.filter(~F.col("is_target"))
        .join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("score_micro") > 0).cast("int"))
            .cast("bigint")
            .alias("n_selected"),
            F.round(
                F.sum("score_micro") / F.sum("n_feats") / 1e6, 6
            ).alias("avg_lr"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM scoring (CCNet / Wenzek et al. 2020 shape, one
# rung up from the unigram query): per-doc average NLL over bigram
# transitions, p = (4*p_bigram + p_unigram)/5 with integer blend
# weights and per-type micro-nat NLLs so neither the blend literal nor
# the summation order can drift between engines.
# ---------------------------------------------------------------------------

_BIGRAM_LM_SQL = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, pos, toks[pos] AS tok FROM (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> t != '') AS toks,
               unnest(generate_series(1, len(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 t -> t != '')))) AS pos
        FROM documents
      )
    ),
    big AS MATERIALIZED (
      SELECT a.doc_id, a.tok AS prev, b.tok AS cur
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT prev, cur, count(*) AS n2 FROM big GROUP BY prev, cur),
    ctx AS (SELECT prev, sum(n2) AS nctx FROM c2 GROUP BY prev),
    c1 AS (SELECT tok, count(*) AS n1 FROM toks GROUP BY tok),
    tot AS (SELECT sum(n1) AS t FROM c1),
    dim AS MATERIALIZED (
      SELECT c2.prev, c2.cur,
             CAST(floor(-ln((4 * (c2.n2 / ctx.nctx) + c1.n1 / tot.t) / 5)
                        * 1e6 + 0.5) AS BIGINT) AS nll_micro
      FROM c2 JOIN ctx ON c2.prev = ctx.prev
              JOIN c1 ON c2.cur = c1.tok
              CROSS JOIN tot
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(d.nll_micro) / count(*) / 1e6, 6) AS avg_nll
    FROM big b JOIN dim d ON b.prev = d.prev AND b.cur = d.cur
    GROUP BY b.doc_id
    ORDER BY b.doc_id
"""


@q(
    "bigram_lm_quality",
    _BIGRAM_LM_SQL,
    "llm",
    "quality",
    "perplexity",
    "bigram",
    "pipeline",
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM average NLL per document
    (corpus.bigram_logprob) — the CCNet perplexity-filter shape with the
    corpus itself as the LM; micro-nat integer sums divided only at the
    end."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    return (
        corpus.bigram_logprob(docs)
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("nll_micro_sum") / F.col("n_bigrams") / 1e6, 6
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al., ACL 2016): n iterations of
# most-frequent-adjacent-pair merging over the word-frequency table,
# exact greedy left-to-right merge semantics (gaps-and-islands windows
# — see corpus.bpe_train). The oracle replays every iteration in
# MATERIALIZED CTEs: pair counts, deterministic argmax (count desc,
# pair asc), island-parity merge, per-word symbol rebuild.
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 4


def _bpe_step_sql(k: int) -> str:
    return f"""
    p{k} AS MATERIALIZED (
      SELECT word, freq, pos, syms[pos] AS s,
             lead(syms[pos]) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM (
        SELECT word, freq, string_split(sym, ' ') AS syms,
               unnest(generate_series(1, len(string_split(sym, ' ')))) AS pos
        FROM w{k}
      )
    ),
    best{k} AS MATERIALIZED (
      SELECT s AS x, nxt AS y, CAST(sum(freq) AS BIGINT) AS cnt
      FROM p{k} WHERE nxt IS NOT NULL
      GROUP BY s, nxt ORDER BY cnt DESC, x, y LIMIT 1
    ),
    m{k} AS MATERIALIZED (
      SELECT word, freq, pos, s, mg,
             sum(CASE WHEN mg THEN 1 ELSE 0 END)
               OVER (PARTITION BY word ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM (
        SELECT p.word, p.freq, p.pos, p.s,
               COALESCE(p.s = b.x AND p.nxt = b.y, FALSE) AS mg
        FROM p{k} p CROSS JOIN best{k} b
      )
    ),
    c{k} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS ridx
        FROM (SELECT word, pos, pos - cum AS grp FROM m{k} WHERE mg)
      ) WHERE ridx % 2 = 1
    ),
    w{k + 1} AS MATERIALIZED (
      SELECT m.word, min(m.freq) AS freq,
             string_agg(CASE WHEN ch.pos IS NOT NULL THEN b.x || b.y
                             ELSE m.s END, ' ' ORDER BY m.pos) AS sym
      FROM m{k} m
      CROSS JOIN best{k} b
      LEFT JOIN c{k} ch ON m.word = ch.word AND m.pos = ch.pos
      LEFT JOIN c{k} sk ON m.word = sk.word AND m.pos - 1 = sk.pos
      WHERE sk.pos IS NULL
      GROUP BY m.word
    )"""


_BPE_TRAIN_SQL = (
    """
    WITH w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             array_to_string(
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)), ' ')
               || ' </w>' AS sym
      FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                     '\\s+'),
                                  t -> t != '')) AS word
        FROM documents
      )
      GROUP BY word
    ),
    """
    + ",\n".join(_bpe_step_sql(k) for k in range(_BPE_N_MERGES))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS merge_idx, x AS left_sym,"
        f" y AS right_sym, cnt AS pair_count FROM best{k}"
        for k in range(_BPE_N_MERGES)
    )
    + "\n    ORDER BY merge_idx"
)


@q(
    "bpe_merge_training",
    _BPE_TRAIN_SQL,
    "llm",
    "tokenization",
    "bpe",
    "iterative",
    "pipeline",
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 4 BPE merge rules on the corpus
    (corpus.bpe_train): per merge, the pair chosen and its weighted
    count. The iterative argmax/merge loop runs distributed; only the
    1-row argmax reaches the driver per step."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    merges = corpus.bpe_train(docs, n_merges=_BPE_N_MERGES)
    return _local_frame(spark, 
        [(int(k), x, y, int(c)) for k, x, y, c in merges],
        "merge_idx bigint, left_sym string, right_sym string, pair_count bigint",
    ).orderBy("merge_idx")


# ---------------------------------------------------------------------------
# Gap-based sessionization (windows.sessionize): per-event session ids
# from a 30-minute inactivity gap, then per-user session stats. The
# per-EVENT labeling complements the session_window AGGREGATE the
# streaming suite covers. Gap compares in integer microseconds.
# ---------------------------------------------------------------------------

_SESSIONIZE_SQL = """
    WITH labeled AS (
      SELECT user_id, ts,
             sum(CASE WHEN prev_us IS NULL
                        OR epoch_us(ts) - prev_us > 1800 * 1000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                 AS prev_us
        FROM events
      )
    ),
    sess AS (
      SELECT user_id, session_id, count(*) AS n_events,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
      FROM labeled GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(max(n_events) AS BIGINT) AS max_session_events,
           round(sum(dur_us) / count(*) / 1e6, 3) AS avg_session_sec
    FROM sess GROUP BY user_id ORDER BY user_id
"""


@q(
    "event_sessionization",
    _SESSIONIZE_SQL,
    "events",
    "sessionization",
    "window",
    "analytics",
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats from gap-based per-event session labeling
    (windows.sessionize, 30-minute gap): session count, event totals,
    largest session, mean session duration (integer-microsecond sums
    divided once at the end)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    labeled = windows.sessionize(ev, gap_seconds=1800)
    sess = labeled.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).alias("dur_us"),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.max("n_events").cast("bigint").alias("max_session_events"),
            F.round(F.sum("dur_us") / F.count("*") / 1e6, 3).alias(
                "avg_session_sec"
            ),
        )
        .orderBy("user_id")
    )


_BPE_ENCODE_SQL = (
    """
    WITH w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             array_to_string(
               list_transform(generate_series(1, length(word)),
                              i -> substr(word, i, 1)), ' ')
               || ' </w>' AS sym
      FROM (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                     '\\s+'),
                                  t -> t != '')) AS word
        FROM documents
      )
      GROUP BY word
    ),
    """
    + ",\n".join(_bpe_step_sql(k) for k in range(_BPE_N_MERGES))
    + f"""
    SELECT s AS symbol,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS total_count
    FROM (SELECT word, freq, unnest(string_split(sym, ' ')) AS s
          FROM w{_BPE_N_MERGES})
    GROUP BY s ORDER BY s
    """
)


@q(
    "bpe_encode_vocab",
    _BPE_ENCODE_SQL,
    "llm",
    "tokenization",
    "bpe",
    "pipeline",
)
def bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the 4 learned BPE merges
    (corpus.bpe_train -> corpus.bpe_apply) and report the resulting
    symbol vocabulary: per symbol, the distinct words containing it and
    its corpus-weighted total count. The encode itself is one lazy plan
    with the rules baked in as literals — zero driver traffic."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    merges = [(x, y) for _, x, y, _ in corpus.bpe_train(docs, _BPE_N_MERGES)]
    enc = corpus.bpe_apply(docs, merges)
    sym = enc.select(
        "word", "freq", F.explode(F.split("sym", " ")).alias("symbol")
    )
    return (
        sym.groupBy("symbol")
        .agg(
            F.countDistinct("word").cast("bigint").alias("n_words"),
            F.sum("freq").cast("bigint").alias("total_count"),
        )
        .orderBy("symbol")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005): the
# fixed-size mergeable frequency sketch — at 100 TB the d x w table
# merges by cell addition in Spark's partial aggregation and broadcasts
# for estimation, replacing a full-key-space groupBy. Estimates are
# md5-seeded and bit-identical across engines; CMS always OVERcounts.
# ---------------------------------------------------------------------------

_CMS_D, _CMS_W = 4, 256


def _cms_bucket_sql(seed: int) -> str:
    h = f"md5('{seed}:' || tok)"
    nib = "(strpos('0123456789abcdef', substr(%s, {i}, 1)) - 1)" % h
    return (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16 "
        f"+ {nib.format(i=3)}) %% {_CMS_W})"
    ).replace("%%", "%")


_CMS_CELL_ARMS = " UNION ALL ".join(
    f"SELECT {r} AS row, {_cms_bucket_sql(r)} AS bucket FROM toks"
    for r in range(_CMS_D)
)
_CMS_PROBE_ARMS = " UNION ALL ".join(
    f"SELECT tok, c, {r} AS row, {_cms_bucket_sql(r)} AS bucket FROM cand"
    for r in range(_CMS_D)
)


@q(
    "cms_heavy_hitters",
    f"""
    WITH toks AS MATERIALIZED (
      SELECT unnest(list_filter(string_split_regex(trim(lower(text)),
                                                   '\\s+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    cells AS MATERIALIZED (
      SELECT row, bucket, count(*) AS cnt
      FROM ({_CMS_CELL_ARMS}) GROUP BY row, bucket
    ),
    cand AS MATERIALIZED (
      SELECT tok, count(*) AS c FROM toks GROUP BY tok
      ORDER BY c DESC, tok LIMIT 20
    ),
    est AS (
      SELECT p.tok, p.c, min(coalesce(s.cnt, 0)) AS est
      FROM ({_CMS_PROBE_ARMS}) p
      LEFT JOIN cells s ON p.row = s.row AND p.bucket = s.bucket
      GROUP BY p.tok, p.c
    )
    SELECT tok AS token,
           CAST(c AS BIGINT) AS exact_count,
           CAST(est AS BIGINT) AS cms_estimate,
           CAST(est - c AS BIGINT) AS overcount
    FROM est
    ORDER BY exact_count DESC, token
    """,
    "llm",
    "sketch",
    "count-min",
    "heavy-hitters",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min estimates for the 20 most frequent corpus tokens
    (analytics/sketches.cms_build/cms_estimate, d=4, w=256): exact
    count, sketch estimate, and the guaranteed-nonnegative overcount."""
    from milvus_cdc_spark.analytics import sketches
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok")
    )
    sketch = sketches.cms_build(toks, "tok", d=_CMS_D, w=_CMS_W)
    cand = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(20)
    )
    est = sketches.cms_estimate(sketch, cand, "tok", d=_CMS_D, w=_CMS_W)
    return (
        cand.join(est, "tok")
        .select(
            F.col("tok").alias("token"),
            F.col("c").cast("bigint").alias("exact_count"),
            F.col("est").cast("bigint").alias("cms_estimate"),
            (F.col("est") - F.col("c")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("exact_count").desc(), "token")
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction (runtime-filter idea): a 16-word
# bloom over a dim-side key set broadcasts in kilobytes and prunes the
# fact stream MAP-SIDE before any join — false positives possible (and
# reported), false negatives impossible. Linear counting (Whang TODS
# 1990): the md5-seeded bitmap distinct estimator whose ESTIMATE is
# engine-portable, unlike HLL register layouts.
# ---------------------------------------------------------------------------

_BF_H, _BF_WORDS = 3, 16
_BF_M = 63 * _BF_WORDS


def _bf_pos_sql(expr: str, h: int) -> str:
    md5 = f"md5('{1000 + h}:' || CAST({expr} AS VARCHAR))"
    nib = "(strpos('0123456789abcdef', substr(%s, {i}, 1)) - 1)" % md5
    return (
        f"(({nib.format(i=1)} * 256 + {nib.format(i=2)} * 16 "
        f"+ {nib.format(i=3)}) % {_BF_M})"
    )


_BF_DIM_ARMS = " UNION ALL ".join(
    f"SELECT {_bf_pos_sql('s_suppkey', h)} AS p FROM dim" for h in range(_BF_H)
)
_BF_PROBE_ARMS = " UNION ALL ".join(
    f"SELECT sk, {h} AS h, {_bf_pos_sql('sk', h)} AS p FROM probe_keys"
    for h in range(_BF_H)
)


@q(
    "bloom_semi_join_reduction",
    f"""
    WITH dim AS (SELECT s_suppkey FROM supplier WHERE s_nationkey = 5),
    words AS MATERIALIZED (
      SELECT p // 63 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
      FROM ({_BF_DIM_ARMS}) GROUP BY p // 63
    ),
    probe_keys AS (SELECT DISTINCT l_suppkey AS sk FROM lineitem),
    hits AS (
      SELECT pr.sk, pr.h
      FROM ({_BF_PROBE_ARMS}) pr
      JOIN words w ON pr.p // 63 = w.word_idx
                  AND (w.bits & (CAST(1 AS BIGINT) << CAST(pr.p % 63 AS INT)))
                      != 0
    ),
    pass AS (
      SELECT sk FROM hits GROUP BY sk HAVING count(*) = {_BF_H}
    )
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_suppkey IN (SELECT sk FROM pass)) AS BIGINT)
             AS n_bloom_pass,
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_suppkey IN (SELECT s_suppkey FROM dim)) AS BIGINT)
             AS n_exact,
           CAST((SELECT count(*) FROM pass
                 WHERE sk NOT IN (SELECT s_suppkey FROM dim)) AS BIGINT)
             AS fp_keys
    """,
    "sketch",
    "bloom",
    "semi-join",
    "runtime-filter",
)
def bloom_semi_join_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gate the lineitem fact stream by nation-5 suppliers
    (sketches.bloom_build + bloom_might_contain): total rows, rows
    passing the map-side bloom, rows passing the exact semi-join, and
    the false-positive key count. The collected bloom is <= 16 words at
    any corpus size.

    ONE pass over the fact: the gate evaluates in a single project, the
    exact membership is a broadcast LEFT join (null = miss), and all
    four counters fall out of one partial-aggregated agg — not four
    separate fact scans."""
    from milvus_cdc_spark.analytics import sketches

    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 5)
    li = _t(spark, sf_dir, "lineitem")
    bloom = sketches.bloom_build(
        sup.select(F.col("s_suppkey").alias("key")),
        n_hashes=_BF_H,
        n_words=_BF_WORDS,
    )
    words = [(r.word_idx, r.bits) for r in bloom.collect()]
    gate = sketches.bloom_might_contain(
        F.col("l_suppkey"), words, n_hashes=_BF_H, n_words=_BF_WORDS
    )
    flagged = li.select(F.col("l_suppkey"), gate.alias("bp")).join(
        F.broadcast(sup.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("bp").cast("bigint")).alias("n_bloom_pass"),
        F.count(F.col("s_suppkey")).alias("n_exact"),
        F.count_distinct(
            F.when(
                F.col("bp") & F.col("s_suppkey").isNull(), F.col("l_suppkey")
            )
        ).alias("fp_keys"),
    )


@q(
    "linear_counting_distinct_parts",
    """
    WITH pos AS (
      SELECT DISTINCT
        ((strpos('0123456789abcdef',
                 substr(md5('7:' || CAST(l_partkey AS VARCHAR)), 1, 1)) - 1)
           * 256
         + (strpos('0123456789abcdef',
                   substr(md5('7:' || CAST(l_partkey AS VARCHAR)), 2, 1)) - 1)
           * 16
         + (strpos('0123456789abcdef',
                   substr(md5('7:' || CAST(l_partkey AS VARCHAR)), 3, 1)) - 1))
          % 65536 AS p
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_set,
           round(-65536 * ln((65536 - count(*)) / 65536.0), 2) AS estimate,
           CAST((SELECT count(DISTINCT l_partkey) FROM lineitem) AS BIGINT)
             AS exact_distinct
    FROM pos
    """,
    "sketch",
    "linear-counting",
    "approx-distinct",
)
def linear_counting_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting estimate of distinct part keys in lineitem
    (sketches.linear_counting_distinct, m=65536) against the exact
    distinct count — the portable approximate-distinct twin of
    approx_count_distinct, with a bit-identical bitmap in both
    engines."""
    from milvus_cdc_spark.analytics import sketches

    li = _t(spark, sf_dir, "lineitem")
    lc = sketches.linear_counting_distinct(
        li.select(F.col("l_partkey").alias("item")), n_bits=65536
    )
    exact = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("exact_distinct")
    )
    return lc.crossJoin(exact)


# ---------------------------------------------------------------------------
# C4-style corpus line-level deduplication (Raffel et al. 2020 §2.2):
# discard any "line" occurring more than once corpus-wide. The fixture
# corpus has no newlines, so fixed-width 10-token windows stand in for
# lines (analytics/corpus.pseudo_lines); counts key on a 64-bit md5
# prefix so the corpus-wide shuffle carries fingerprints, not text.
# ---------------------------------------------------------------------------


@q(
    "corpus_line_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
    ),
    lines AS (
      SELECT doc_id,
             array_to_string(list_slice(arr, i * 10 + 1, i * 10 + 10), ' ')
               AS line_text
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(arr) / 10.0) AS INT) - 1))
             AS t(i)
      WHERE len(arr) > 0
    ),
    keys AS (
      SELECT doc_id, substr(md5(line_text), 1, 16) AS k FROM lines
    ),
    counts AS (SELECT k, count(*) AS cnt FROM keys GROUP BY k)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN cnt <= 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS kept_ppm
    FROM keys JOIN counts USING (k)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "dedup",
    "line-dedup",
    "llm",
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document survival accounting for C4 line-level dedup over
    10-token pseudo-lines (corpus.line_level_dedup)."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.line_level_dedup(docs, width=10, max_occurrences=1).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Paragraph-granularity shingle-overlap near-dup — the dedup stage between
# line-level exact dedup and whole-document MinHash (reviewed r14
# registration). 40-token pseudo-paragraphs, distinct 5-token shingles
# keyed on a 64-bit md5 prefix, stop-shingle df cap 64 on the candidate
# join, integer-ppm Jaccard >= 0.5 over UNCAPPED sizes.
# ---------------------------------------------------------------------------


@q(
    "paragraph_near_dup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS arr FROM documents
    ),
    paras AS (
      SELECT doc_id, i AS para_id,
             list_slice(arr, i * 40 + 1, i * 40 + 40) AS parr
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(arr) / 40.0) AS INT) - 1))
             AS t(i)
      WHERE len(arr) > 0
    ),
    sh AS (
      SELECT DISTINCT doc_id, para_id,
             substr(md5(array_to_string(list_slice(parr, j + 1, j + 5), ' ')),
                    1, 16) AS k
      FROM paras,
           unnest(generate_series(0, len(parr) - 5)) AS u(j)
      WHERE len(parr) >= 5
    ),
    sizes AS (
      SELECT doc_id, para_id, count(*) AS n_sh FROM sh GROUP BY doc_id, para_id
    ),
    keep AS (SELECT k FROM sh GROUP BY k HAVING count(*) <= 64),
    shf AS (SELECT sh.* FROM sh JOIN keep USING (k)),
    pairs AS (
      SELECT a.doc_id AS doc_a, a.para_id AS para_a,
             b.doc_id AS doc_b, b.para_id AS para_b,
             count(*) AS shared
      FROM shf a JOIN shf b USING (k)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, para_a, doc_b, para_b
    ),
    scored AS (
      SELECT p.doc_a, p.para_a, p.doc_b, p.para_b
      FROM pairs p
      JOIN sizes sa ON sa.doc_id = p.doc_a AND sa.para_id = p.para_a
      JOIN sizes sb ON sb.doc_id = p.doc_b AND sb.para_id = p.para_b
      WHERE p.shared * 1000000 // (sa.n_sh + sb.n_sh - p.shared) >= 500000
    ),
    flagged AS (
      SELECT DISTINCT doc_id, para_id FROM (
        SELECT doc_a AS doc_id, para_a AS para_id FROM scored
        UNION ALL
        SELECT doc_b AS doc_id, para_b AS para_id FROM scored
      )
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(f.para_id) AS BIGINT) AS n_flagged,
           CAST(count(f.para_id) * 1000000 // count(*) AS BIGINT)
             AS flagged_ppm
    FROM sizes s
    LEFT JOIN flagged f
      ON f.doc_id = s.doc_id AND f.para_id = s.para_id
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    "dedup",
    "paragraph-near-dup",
    "llm",
)
def paragraph_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document paragraph-level near-dup accounting
    (dedup.paragraph_near_dup): 40-token pseudo-paragraphs, 5-token
    shingle Jaccard >= 0.5 against any paragraph of another document."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    return dedup.paragraph_near_dup(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# tf-idf keyword extraction: per-doc top-5 terms, integer idf ratio
# (N * 1e6 DIV df) so the ranking is bit-equal across engines.
# ---------------------------------------------------------------------------


@q(
    "tfidf_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             (SELECT count(*) FROM documents) * 1000000 // dfq.df AS idf_ppm
      FROM tf JOIN dfq USING (term)
    ),
    ranked AS (
      SELECT doc_id, term, tf,
             CAST(tf * idf_ppm AS BIGINT) AS score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tf * idf_ppm DESC, term ASC
             ) AS rn
      FROM scored
    )
    SELECT doc_id, CAST(rn AS INT) AS rank, term,
           CAST(tf AS BIGINT) AS tf, score
    FROM ranked WHERE rn <= 5
    ORDER BY doc_id, rank
    """,
    "text",
    "tfidf",
    "llm",
)
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf keywords per document (textrank.tfidf_keywords),
    integer-ppm idf, ties on the term string."""
    from milvus_cdc_spark.analytics import textrank

    docs = _t(spark, sf_dir, "documents")
    return textrank.tfidf_keywords(docs, k=5).orderBy("doc_id", "rank")


# ---------------------------------------------------------------------------
# DoReMi-flavored domain mixture reweighting: per-source unigram-LM
# difficulty in integer micro-nats, linear share of positive excess.
# ---------------------------------------------------------------------------


@q(
    "domain_mixture_weights",
    f"""
    WITH toks AS (
      SELECT source AS domain, doc_id, unnest({_SQL_TOKS}) AS tok
      FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT sum(tf) AS _t FROM freq),
    per_tok AS (
      SELECT t.domain, t.doc_id,
             CAST(floor(-ln(f.tf / (SELECT _t FROM tot)) * 1e6 + 0.5)
                  AS BIGINT) AS nll_micro
      FROM toks t JOIN freq f USING (tok)
    ),
    per_dom AS (
      SELECT domain,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_toks,
             sum(nll_micro) AS _nll_sum
      FROM per_tok GROUP BY domain
    ),
    corpus AS (
      SELECT sum(_nll_sum) // sum(n_toks) AS _corpus_avg FROM per_dom
    ),
    ex AS (
      SELECT domain, n_docs, n_toks,
             CAST(_nll_sum // n_toks AS BIGINT) AS avg_nll_micro,
             CAST(greatest(_nll_sum // n_toks
                           - (SELECT _corpus_avg FROM corpus), 0) AS BIGINT)
               AS excess_micro
      FROM per_dom
    ),
    tot_ex AS (SELECT sum(excess_micro) AS _ex_sum FROM ex)
    SELECT domain, n_docs, n_toks, avg_nll_micro, excess_micro,
           CAST(CASE WHEN (SELECT _ex_sum FROM tot_ex) > 0
                THEN excess_micro * 1000000 // (SELECT _ex_sum FROM tot_ex)
                ELSE 0 END AS BIGINT) AS weight_ppm
    FROM ex
    ORDER BY domain
    """,
    "llm",
    "mixing",
    "doremi",
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DoReMi-lite mixture weights from unigram-LM excess
    difficulty (corpus.domain_mixture_weights)."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.domain_mixture_weights(docs).orderBy("domain")


# ---------------------------------------------------------------------------
# Z-order clustering layout vs single-key vs hash: zone-map pruning
# effectiveness for a 2-D box predicate (Delta OPTIMIZE ZORDER BY /
# Hudi space-filling-curve clustering). 64 "files" per layout; the
# Morton key gives every file a tight rectangle in BOTH dimensions, so
# the box touches few files; single-key clustering prunes only its own
# column; hash layout scans everything.
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from milvus_cdc_spark.operators.clustering import sql_zorder_key

    z = sql_zorder_key("x", "y", 8)
    box = "x BETWEEN 32 AND 47 AND y BETWEEN 96 AND 111"
    hit = "x_max >= 32 AND x_min <= 47 AND y_max >= 96 AND y_min <= 111"
    return f"""
    WITH base AS (
      SELECT l_orderkey, (l_partkey % 256) AS x, (l_suppkey % 256) AS y
      FROM lineitem
    ),
    keyed AS (SELECT *, {z} AS z FROM base),
    files AS (
      SELECT 'zorder' AS layout, z >> 10 AS file_id, x, y FROM keyed
      UNION ALL
      SELECT 'single', x >> 2, x, y FROM keyed
      UNION ALL
      SELECT 'hash', l_orderkey % 64, x, y FROM keyed
    ),
    zm AS (
      SELECT layout, file_id, count(*) AS n_rows,
             min(x) AS x_min, max(x) AS x_max,
             min(y) AS y_min, max(y) AS y_max,
             sum(CASE WHEN {box} THEN 1 ELSE 0 END) AS n_match
      FROM files GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scanned,
           CAST(sum(CASE WHEN {hit} THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS rows_matching
    FROM zm GROUP BY layout ORDER BY layout
    """


@q(
    "zorder_layout_pruning",
    _zorder_oracle(),
    "layout",
    "zorder",
    "pruning",
    "scale",
)
def zorder_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning for a (part, supplier) box under three file
    layouts (operators/clustering.zorder_key + layout_pruning_stats)."""
    from milvus_cdc_spark.operators import clustering

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    z = clustering.zorder_key(F.col("x"), F.col("y"), 8)
    box = dict(x_lo=32, x_hi=47, y_lo=96, y_hi=111)
    zs = clustering.layout_pruning_stats(
        base, F.shiftright(z, 10), F.col("x"), F.col("y"), layout="zorder", **box
    )
    ss = clustering.layout_pruning_stats(
        base,
        F.shiftright(F.col("x"), 2),
        F.col("x"),
        F.col("y"),
        layout="single",
        **box,
    )
    hs = clustering.layout_pruning_stats(
        base,
        (F.col("l_orderkey") % 64),
        F.col("x"),
        F.col("y"),
        layout="hash",
        **box,
    )
    return zs.unionAll(ss).unionAll(hs).orderBy("layout")


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (Wenzek et al. 2020 §4.3): split the corpus
# into head/middle/tail TERCILES of LM difficulty — head (lowest NLL)
# is the high-quality training pool, tail gets dropped or downsampled.
# Difficulty is the unigram-LM avg NLL in integer micro-nats; the
# tercile assignment reuses windows.distributed_ntile (no global-sort
# SinglePartition exchange at any corpus size).
# ---------------------------------------------------------------------------


@q(
    "ccnet_perplexity_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT sum(tf) AS _t FROM freq),
    per_doc AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(CAST(floor(-ln(f.tf / (SELECT _t FROM tot)) * 1e6
                                 + 0.5) AS BIGINT))
                  // count(*) AS BIGINT) AS avg_nll_micro
      FROM toks t JOIN freq f USING (tok)
      GROUP BY t.doc_id
    ),
    tiled AS (
      SELECT p.doc_id, d.lang, p.n_toks, p.avg_nll_micro,
             ntile(3) OVER (ORDER BY p.avg_nll_micro, p.doc_id) AS tile
      FROM per_doc p JOIN documents d USING (doc_id)
    )
    SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks,
           min(avg_nll_micro) AS min_nll_micro,
           max(avg_nll_micro) AS max_nll_micro
    FROM tiled
    GROUP BY bucket, lang
    ORDER BY bucket, lang
    """,
    "llm",
    "quality",
    "ccnet",
    "ntile",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail LM-difficulty terciles per language — CCNet's
    perplexity bucketing with the exact distributed ntile."""
    from milvus_cdc_spark.functions import text as textf
    from milvus_cdc_spark.operators.windows import distributed_ntile

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    tot = freq.agg(F.sum("tf").alias("_t"))
    nll_micro = F.floor(-F.log(F.col("tf") / F.col("_t")) * 1e6 + F.lit(0.5))
    per_doc = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum(nll_micro).cast("bigint").alias("_nll_sum"),
        )
        .withColumn(
            "avg_nll_micro", F.expr("_nll_sum DIV n_toks").cast("bigint")
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_toks", "avg_nll_micro")
    )
    tiled = distributed_ntile(
        per_doc, 3, ["avg_nll_micro", "doc_id"], tile_col="tile"
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.select(bucket.alias("bucket"), "lang", "n_toks", "avg_nll_micro")
        .groupBy("bucket", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_toks"),
            F.min("avg_nll_micro").alias("min_nll_micro"),
            F.max("avg_nll_micro").alias("max_nll_micro"),
        )
        .orderBy("bucket", "lang")
    )


# ---------------------------------------------------------------------------
# MaxScore/WAND-style pruned retrieval: phase-1 shortlist by per-term
# upper bounds, phase-2 exact BM25 on the shortlist only. Output = the
# pruned top-10 with a flag marking membership in the unpruned top-10
# (the recall evidence the pruning claim rests on).
# ---------------------------------------------------------------------------

_MAXSCORE_SQL_BASE = """
    toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM toks WHERE tok IN ('join', 'batch', 'filter')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    posting AS (
      SELECT tf.doc_id, tf.tok,
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               AS contrib
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats
    )
"""


@q(
    "maxscore_pruned_search",
    f"""
    WITH {_MAXSCORE_SQL_BASE},
    ub AS (SELECT tok, max(contrib) AS ub FROM posting GROUP BY tok),
    cand AS (
      SELECT doc_id, round(sum(ub), 6) AS ub_score
      FROM posting JOIN ub USING (tok) GROUP BY doc_id
    ),
    shortlist AS (
      SELECT doc_id FROM cand ORDER BY ub_score DESC, doc_id LIMIT 30
    ),
    exact AS (
      SELECT p.doc_id, round(sum(contrib), 4) AS bm25
      FROM posting p JOIN shortlist USING (doc_id)
      GROUP BY p.doc_id
    ),
    topk AS (
      SELECT doc_id, bm25 FROM exact ORDER BY bm25 DESC, doc_id LIMIT 10
    ),
    full_topk AS (
      SELECT doc_id FROM (
        SELECT doc_id, round(sum(contrib), 4) AS bm25
        FROM posting GROUP BY doc_id
      ) ORDER BY bm25 DESC, doc_id LIMIT 10
    )
    SELECT t.doc_id, t.bm25,
           (f.doc_id IS NOT NULL) AS in_exact_topk
    FROM topk t LEFT JOIN full_topk f USING (doc_id)
    ORDER BY t.bm25 DESC, t.doc_id
    """,
    "text",
    "bm25",
    "wand",
    "maxscore",
    "llm",
)
def maxscore_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MaxScore-pruned BM25 top-10 (textrank.maxscore_search) flagged
    against the unpruned top-10."""
    from milvus_cdc_spark.analytics.textrank import (
        bm25_index,
        fulltext_search,
        maxscore_search,
    )

    docs = _t(spark, sf_dir, "documents")
    # r14: widen the index build (interleaved A/B winner here)
    index = bm25_index(docs, widen=True)
    terms = ["join", "batch", "filter"]
    pruned = maxscore_search(index, terms, k=10, candidate_factor=3)
    full = (
        fulltext_search(index, terms)
        .select("doc_id", F.round("bm25", 4).alias("_fb"))
        .orderBy(F.col("_fb").desc(), "doc_id")
        .limit(10)
        .select(F.col("doc_id").alias("_fid"))
    )
    return (
        pruned.join(
            F.broadcast(full), pruned["doc_id"] == full["_fid"], "left"
        )
        .select(
            "doc_id", "bm25", F.col("_fid").isNotNull().alias("in_exact_topk")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split: md5-nibble hash of doc_id mod 10
# (0-7 train, 8 val, 9 test) — reproducible, RNG-free assignment, the
# split every training pipeline runs before anything else. Counts per
# (split, source) prove stratification balance.
# ---------------------------------------------------------------------------


@q(
    "dataset_split_counts",
    """
    WITH hashed AS (
      SELECT source, n_chars,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 256
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1))
               % 10 AS h
      FROM documents
    )
    SELECT CASE WHEN h <= 7 THEN 'train' WHEN h = 8 THEN 'val'
                ELSE 'test' END AS split,
           source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM hashed
    GROUP BY split, source
    ORDER BY split, source
    """,
    "llm",
    "split",
    "sampling",
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split via the portable nibble hash
    (corpus.portable_nibble_hash % 10) — per-(split, source) counts."""
    from milvus_cdc_spark.analytics.corpus import portable_nibble_hash

    docs = _t(spark, sf_dir, "documents")
    h = portable_nibble_hash(F.col("doc_id")) % 10
    split = (
        F.when(h <= 7, "train").when(h == 8, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .orderBy("split", "source")
    )


# ---------------------------------------------------------------------------
# More-Like-This retrieval (the Lucene/Elasticsearch MLT query): the
# source document's top tf-idf terms BECOME the BM25 query, source
# excluded from results. Fully plan-side — the keyword frame is 5 rows
# joined (broadcast) onto the posting index; no driver collect anywhere.
# ---------------------------------------------------------------------------


@q(
    "more_like_this",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    kw AS (
      SELECT term FROM (
        SELECT tf.term,
               row_number() OVER (
                 ORDER BY tf.tf * ((SELECT count(*) FROM documents)
                                   * 1000000 // dfq.df) DESC, tf.term ASC
               ) AS rn
        FROM tf JOIN dfq USING (term)
        WHERE tf.doc_id = 0
      ) WHERE rn <= 5
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    qtf AS (
      SELECT doc_id, term AS tok, tf
      FROM tf WHERE term IN (SELECT term FROM kw)
    ),
    qdf AS (SELECT tok, count(*) AS df FROM qtf GROUP BY tok),
    scored AS (
      SELECT qtf.doc_id,
             round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * tf * 2.2
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
                   4) AS bm25
      FROM qtf JOIN qdf USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats
      WHERE qtf.doc_id != 0
      GROUP BY qtf.doc_id
    )
    SELECT doc_id, bm25 FROM scored
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    "text",
    "bm25",
    "more-like-this",
    "llm",
)
def more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLT for doc 0: its top-5 tf-idf terms queried through the BM25
    posting index (textrank.tfidf_keywords + bm25_index), source doc
    excluded, top-10.

    Measured leave (r14: 1.10/0.95; r15 re-run on two calmer blocks:
    1.20/0.96): bm25_index(widen=True) stays off here — the tfidf
    branch dominates and re-reads the exchange."""
    from milvus_cdc_spark.analytics.textrank import bm25_index, tfidf_keywords

    docs = _t(spark, sf_dir, "documents")
    kw = (
        tfidf_keywords(docs, k=5)
        .filter(F.col("doc_id") == 0)
        .select(F.col("term").alias("tok"))
    )
    index = bm25_index(docs)
    postings = index.join(F.broadcast(kw), "tok")
    return (
        postings.filter(F.col("doc_id") != 0)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("idf") * F.col("weight")), 4).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Token-budget epoch plan (the Llama/PaLM data-recipe step): given
# per-source token inventories, a temperature-0.5 share (sqrt
# upweighting of small sources), a total token budget of 2x the corpus,
# and a hard repetition cap of 2.5 epochs, how many tokens of each
# source does the run actually draw? Everything in exact integer
# arithmetic: floor(sqrt) shares in ppm, milli-epochs, floor division.
# ---------------------------------------------------------------------------


@q(
    "mixing_epoch_plan",
    f"""
    WITH toks AS (
      SELECT source, CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, avail,
             CAST(floor(sqrt(avail)) AS BIGINT) AS wgt
      FROM toks
    ),
    tot AS (
      SELECT sum(wgt) AS wsum, sum(avail) AS asum FROM w
    ),
    plan AS (
      SELECT source, avail,
             CAST(wgt * 1000000 // (SELECT wsum FROM tot) AS BIGINT)
               AS share_ppm,
             CAST((2 * (SELECT asum FROM tot))
                  * (wgt * 1000000 // (SELECT wsum FROM tot))
                  // 1000000 AS BIGINT) AS desired
      FROM w
    )
    SELECT source, avail, share_ppm, desired,
           CAST(least(2500, desired * 1000 // avail) AS BIGINT)
             AS epochs_milli,
           CAST(avail * least(2500, desired * 1000 // avail) // 1000
                AS BIGINT) AS planned_tokens
    FROM plan
    ORDER BY source
    """,
    "llm",
    "mixing",
    "epochs",
)
def mixing_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch/token plan under a 2x-corpus budget,
    temperature-0.5 shares, 2.5-epoch repetition cap."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.groupBy("source").agg(
        F.sum(F.size(textf.tokens(F.lower(F.col("text")))))
        .cast("bigint")
        .alias("avail")
    )
    w = toks.withColumn(
        "wgt", F.floor(F.sqrt(F.col("avail"))).cast("bigint")
    )
    tot = w.agg(
        F.sum("wgt").alias("wsum"), F.sum("avail").alias("asum")
    )
    plan = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "share_ppm", F.expr("wgt * 1000000 DIV wsum").cast("bigint")
        )
        .withColumn(
            "desired",
            F.expr("(2 * asum) * share_ppm DIV 1000000").cast("bigint"),
        )
    )
    return plan.select(
        "source",
        "avail",
        "share_ppm",
        "desired",
        F.least(F.lit(2500), F.expr("desired * 1000 DIV avail"))
        .cast("bigint")
        .alias("epochs_milli"),
        F.expr("avail * least(2500, desired * 1000 DIV avail) DIV 1000")
        .cast("bigint")
        .alias("planned_tokens"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# MLM masking plan (BERT-style 15% token masking, Devlin et al. 2019):
# which tokens of each document get masked is decided by the portable
# md5-nibble gate over (doc_id, position) — deterministic, RNG-free,
# reproducible across engines and runs (the same trade every sampling
# operator here makes). Output: per-doc counts + mask-rate ppm.
# ---------------------------------------------------------------------------


@q(
    "mlm_masking_plan",
    f"""
    WITH toks AS (
      SELECT doc_id, i AS pos
      FROM (SELECT doc_id, {_SQL_TOKS} AS arr FROM documents),
           unnest(generate_series(1, len(arr))) AS t(i)
      WHERE len(arr) > 0
    ),
    gated AS (
      SELECT doc_id, pos,
             ((strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id * 1000000 + pos AS VARCHAR)),
                             1, 1)) - 1) * 256
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id * 1000000 + pos AS VARCHAR)),
                               2, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5(CAST(doc_id * 1000000 + pos AS VARCHAR)),
                               3, 1)) - 1)) % 1000 < 150 AS masked
      FROM toks
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS mask_ppm
    FROM gated
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    "llm",
    "masking",
    "mlm",
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 15% MLM masking plan via the portable nibble gate
    over (doc_id, token position)."""
    from milvus_cdc_spark.analytics.corpus import sample_gate
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(textf.tokens(F.lower(F.col("text")))).alias("p", "tok"),
    ).select("doc_id", (F.col("p") + 1).alias("pos"))
    masked = sample_gate(
        F.col("doc_id") * 1_000_000 + F.col("pos"), F.lit(150)
    )
    return (
        toks.select("doc_id", masked.cast("int").alias("m"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("m").cast("bigint").alias("n_masked"),
        )
        .withColumn(
            "mask_ppm", F.expr("n_masked * 1000000 DIV n_tokens").cast("bigint")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Preference-pair construction (DPO/RLHF data prep): within each
# source, rank documents by LM quality (unigram NLL micro-nats — lower
# is better) and pair the k-th best with the k-th worst; floor(n/2)
# pairs per source, the middle document of an odd group unused. All
# ranking keys are integers; ties break on doc_id.
# ---------------------------------------------------------------------------


@q(
    "preference_pair_builder",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT sum(tf) AS _t FROM freq),
    per_doc AS (
      SELECT t.doc_id,
             CAST(sum(CAST(floor(-ln(f.tf / (SELECT _t FROM tot)) * 1e6
                                 + 0.5) AS BIGINT))
                  // count(*) AS BIGINT) AS nll
      FROM toks t JOIN freq f USING (tok)
      GROUP BY t.doc_id
    ),
    ranked AS (
      SELECT d.source, p.doc_id, p.nll,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY p.nll ASC, p.doc_id) AS r_best,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY p.nll DESC, p.doc_id) AS r_worst,
             count(*) OVER (PARTITION BY d.source) AS n
      FROM per_doc p JOIN documents d USING (doc_id)
    )
    SELECT b.source,
           CAST(b.r_best AS INT) AS pair_rank,
           b.doc_id AS chosen_id,
           w.doc_id AS rejected_id,
           CAST(w.nll - b.nll AS BIGINT) AS margin_micro
    FROM ranked b
    JOIN ranked w
      ON b.source = w.source AND b.r_best = w.r_worst
    WHERE b.r_best <= b.n // 2
    ORDER BY b.source, pair_rank
    """,
    "llm",
    "dpo",
    "preference",
)
def preference_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-vs-worst quality pairing per source — DPO training pairs
    with integer micro-nat margins."""
    from pyspark.sql import Window

    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    tot = freq.agg(F.sum("tf").alias("_t"))
    nll_micro = F.floor(-F.log(F.col("tf") / F.col("_t")) * 1e6 + F.lit(0.5))
    per_doc = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(nll_micro).cast("bigint").alias("_s"),
            F.count("*").alias("_n"),
        )
        .withColumn("nll", F.expr("_s DIV _n").cast("bigint"))
        .select("doc_id", "nll")
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    wb = Window.partitionBy("source").orderBy(F.col("nll").asc(), "doc_id")
    ww = Window.partitionBy("source").orderBy(F.col("nll").desc(), "doc_id")
    wn = Window.partitionBy("source")

    # ranked feeds both pair sides; unpersisted, each re-runs the token
    # explode + unigram-LM scoring + three windows
    ranked = cache(per_doc.select(
        "source",
        "doc_id",
        "nll",
        F.row_number().over(wb).alias("r_best"),
        F.row_number().over(ww).alias("r_worst"),
        F.count("*").over(wn).alias("n"),
    ))
    best = ranked.select(
        "source",
        F.col("r_best").alias("pair_rank"),
        F.col("doc_id").alias("chosen_id"),
        F.col("nll").alias("_bn"),
        "n",
    ).filter(F.col("pair_rank") <= F.expr("n DIV 2"))
    worst = ranked.select(
        "source",
        F.col("r_worst").alias("pair_rank"),
        F.col("doc_id").alias("rejected_id"),
        F.col("nll").alias("_wn"),
    )
    return (
        best.join(worst, ["source", "pair_rank"])
        .select(
            "source",
            F.col("pair_rank").cast("int").alias("pair_rank"),
            "chosen_id",
            "rejected_id",
            (F.col("_wn") - F.col("_bn")).cast("bigint").alias("margin_micro"),
        )
        .orderBy("source", "pair_rank")
    )


# ---------------------------------------------------------------------------
# Population Stability Index drift (the standard production drift
# monitor): compare the document-length distribution of the corpus's
# first half vs second half (doc_id split — the "reference vs current
# window" stand-in) over 8 fixed-width length buckets, per source.
# PSI = sum over buckets of (p - q) * ln(p / q), accumulated in integer
# micro-units with Laplace-smoothed bucket shares so empty buckets
# never divide by zero. PSI > 0.2 is the usual "investigate" line.
# ---------------------------------------------------------------------------


@q(
    "psi_length_drift",
    """
    WITH halves AS (
      SELECT source,
             CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS win,
             least(CAST(n_chars // 64 AS INT), 7) AS bucket
      FROM documents
    ),
    counts AS (
      SELECT source, win, bucket, count(*) AS c
      FROM halves GROUP BY source, win, bucket
    ),
    grid AS (
      SELECT s.source, b.bucket,
             coalesce(r.c, 0) + 1 AS rc,
             coalesce(u.c, 0) + 1 AS cc
      FROM (SELECT DISTINCT source FROM documents) s
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bucket) b
      LEFT JOIN counts r ON r.source = s.source AND r.bucket = b.bucket
                         AND r.win = 'ref'
      LEFT JOIN counts u ON u.source = s.source AND u.bucket = b.bucket
                         AND u.win = 'cur'
    ),
    tot AS (
      SELECT source, sum(rc) AS rt, sum(cc) AS ct FROM grid GROUP BY source
    ),
    terms AS (
      SELECT g.source,
             CAST(floor((g.rc / t.rt - g.cc / t.ct)
                        * ln((g.rc / t.rt) / (g.cc / t.ct)) * 1e6 + 0.5)
                  AS BIGINT) AS term_micro
      FROM grid g JOIN tot t USING (source)
    )
    SELECT source, CAST(sum(term_micro) AS BIGINT) AS psi_micro
    FROM terms GROUP BY source ORDER BY source
    """,
    "llm",
    "monitoring",
    "drift",
    "psi",
)
def psi_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PSI of the length distribution, ref vs current half."""
    docs = _t(spark, sf_dir, "documents")
    halves = docs.select(
        "source",
        F.when(F.col("doc_id") % 2 == 0, "ref").otherwise("cur").alias("win"),
        F.least(F.expr("CAST(n_chars DIV 64 AS INT)"), F.lit(7)).alias(
            "bucket"
        ),
    )
    counts = halves.groupBy("source", "win", "bucket").agg(
        F.count("*").alias("c")
    )
    sources = docs.select("source").distinct()
    buckets = docs.sparkSession.range(8).select(
        F.col("id").cast("int").alias("bucket")
    )
    grid = (
        sources.crossJoin(F.broadcast(buckets))
        .join(
            counts.filter(F.col("win") == "ref").select(
                "source", "bucket", F.col("c").alias("_rc")
            ),
            ["source", "bucket"],
            "left",
        )
        .join(
            counts.filter(F.col("win") == "cur").select(
                "source", "bucket", F.col("c").alias("_cc")
            ),
            ["source", "bucket"],
            "left",
        )
        .select(
            "source",
            "bucket",
            (F.coalesce(F.col("_rc"), F.lit(0)) + 1).alias("rc"),
            (F.coalesce(F.col("_cc"), F.lit(0)) + 1).alias("cc"),
        )
    )
    tot = grid.groupBy("source").agg(
        F.sum("rc").alias("rt"), F.sum("cc").alias("ct")
    )
    p = F.col("rc") / F.col("rt")
    q_ = F.col("cc") / F.col("ct")
    term = F.floor((p - q_) * F.log(p / q_) * 1e6 + F.lit(0.5)).cast("bigint")
    return (
        grid.join(tot, "source")
        .select("source", term.alias("term_micro"))
        .groupBy("source")
        .agg(F.sum("term_micro").cast("bigint").alias("psi_micro"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Chi-squared token-source association (classic feature selection /
# "what vocabulary marks this source?"): 2x2 contingency per
# (source, token) on DOCUMENT frequencies, chi2 scaled to exact BIGINT
# — N * (ad - bc)^2 // product of marginals (doc counts keep every
# intermediate under 2^63). Top-3 tokens per source.
# ---------------------------------------------------------------------------


@q(
    "chi2_token_source",
    f"""
    WITH docs_t AS (
      SELECT DISTINCT doc_id, source, tok FROM (
        SELECT doc_id, source, unnest({_SQL_TOKS}) AS tok FROM documents
      )
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    per_src AS (SELECT source, count(*) AS src_docs FROM documents
                GROUP BY source),
    tok_src AS (
      SELECT source, tok, count(*) AS a FROM docs_t GROUP BY source, tok
    ),
    tok_all AS (SELECT tok, count(*) AS t_docs FROM docs_t GROUP BY tok),
    cells AS (
      SELECT ts.source, ts.tok,
             ts.a,
             p.src_docs - ts.a AS b,
             ta.t_docs - ts.a AS c,
             (SELECT n_docs FROM n) - p.src_docs - (ta.t_docs - ts.a) AS d,
             p.src_docs, ta.t_docs
      FROM tok_src ts
      JOIN per_src p USING (source)
      JOIN tok_all ta USING (tok)
    ),
    scored AS (
      SELECT source, tok,
             CAST((SELECT n_docs FROM n) * (a * d - b * c) * (a * d - b * c)
                  // (src_docs * ((SELECT n_docs FROM n) - src_docs)
                      * t_docs * ((SELECT n_docs FROM n) - t_docs))
                  AS BIGINT) AS chi2_scaled
      FROM cells
      WHERE t_docs < (SELECT n_docs FROM n)
    ),
    ranked AS (
      SELECT source, tok, chi2_scaled,
             row_number() OVER (PARTITION BY source
                                ORDER BY chi2_scaled DESC, tok) AS rn
      FROM scored
    )
    SELECT source, CAST(rn AS INT) AS rank, tok, chi2_scaled
    FROM ranked WHERE rn <= 3
    ORDER BY source, rank
    """,
    "llm",
    "feature-selection",
    "chi2",
)
def chi2_token_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 chi-squared-associated tokens per source (document-level
    2x2 contingency, exact integer scaling)."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    docs_t = docs.select(
        "doc_id",
        "source",
        F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok"),
    ).distinct()
    n_docs_df = docs.agg(F.count("*").alias("n_docs"))
    per_src = docs.groupBy("source").agg(F.count("*").alias("src_docs"))
    tok_src = docs_t.groupBy("source", "tok").agg(F.count("*").alias("a"))
    tok_all = docs_t.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("t_docs")
    )
    cells = (
        tok_src.join(F.broadcast(per_src), "source")
        .join(tok_all, "tok")
        .crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("t_docs") < F.col("n_docs"))
    )
    scored = cells.select(
        "source",
        "tok",
        F.expr(
            "CAST(n_docs * ((a * (n_docs - src_docs - (t_docs - a))) "
            "- (src_docs - a) * (t_docs - a)) "
            "* ((a * (n_docs - src_docs - (t_docs - a))) "
            "- (src_docs - a) * (t_docs - a)) "
            "DIV (src_docs * (n_docs - src_docs) * t_docs "
            "* (n_docs - t_docs)) AS BIGINT)"
        ).alias("chi2_scaled"),
    )
    order = [F.col("chi2_scaled").desc(), F.col("tok")]
    return (
        windows.top_k(scored, "source", order, 3)
        .select("source", F.col("rank").cast("int"), "tok", "chi2_scaled")
        .orderBy("source", "rank")
    )
