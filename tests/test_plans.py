"""Physical-plan audits: the 100 TB contract, checked in CI.

Every query's plan must show the properties that make it survive scale-up:
pushdown to the scan, column pruning, broadcast joins for dims, codegen.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from milvus_cdc_spark import cache_registry, suite
from milvus_cdc_spark.plans import audit


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = suite.QUERIES["q1_pricing_summary"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert any("l_shipdate" in p for p in audit.pushed_filters(plan))
    cols = audit.read_schema_columns(plan)[0]
    assert "l_orderkey" not in cols  # pruned: not referenced by q1
    assert "l_quantity" in cols


def test_dim_join_broadcasts(spark, sf_dir):
    df = suite.QUERIES["dim_join_enrich"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert audit.count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan


def test_anti_join_pushdown(spark, sf_dir):
    df = suite.QUERIES["anti_join_customers"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert any("o_totalprice" in p for p in audit.pushed_filters(plan))


def test_replay_prunes_payload_columns(spark, sf_dir):
    """The CDC replay only needs key/ts-deriving columns; the scan must not
    read the full lineitem width."""
    df = suite.QUERIES["cdc_replay_summary"].fn(spark, sf_dir)
    cols = audit.read_schema_columns(audit.formatted_plan(df))[0]
    assert "l_extendedprice" not in cols
    assert "l_comment" not in cols


def test_codegen_present(spark, sf_dir):
    # AQE prints `AdaptiveSparkPlan isFinalPlan=false` pre-execution, hiding
    # the codegen stars — turn it off just for the plan inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = suite.QUERIES["q1_pricing_summary"].fn(spark, sf_dir)
        assert audit.codegen_span_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_disjunctive_predicate_pushed_to_both_scans(spark, sf_dir):
    """Q19 shape: Catalyst must decompose the OR-of-ANDs into per-side
    residuals pushed into BOTH parquet scans (not a post-join filter only)."""
    df = suite.QUERIES["disjunctive_filter_revenue"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    pushed = audit.pushed_filters(plan)
    assert any("l_quantity" in p and "Or(" in p for p in pushed)
    assert any("p_brand" in p and "Or(" in p for p in pushed)


def test_exists_plans_as_semi_join(spark, sf_dir):
    """EXISTS must become a (broadcast/shuffled) left-semi join, and the
    date range must reach the orders scan."""
    df = suite.QUERIES["exists_late_orders"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "LeftSemi" in plan
    assert any("o_orderdate" in p for p in audit.pushed_filters(plan))


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — per-
    partition top-k then driver merge of k rows, never a global sort."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = suite.QUERIES["returned_items_topk"].fn(spark, sf_dir)
        plan = audit.formatted_plan(df)
        assert "TakeOrderedAndProject" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_scalar_subquery_single_fact_pass_exchanges(spark, sf_dir):
    """Q17 shape: the decorrelated per-part aggregate + join should stay
    within a bounded shuffle budget (agg exchange + join exchanges), not
    multiply scans of the fact table through the plan."""
    df = suite.QUERIES["scalar_subquery_small_qty"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert audit.count_exchanges(plan) <= 5


def test_salted_join_distributes_hot_keys(spark, sf_dir):
    """With broadcast disabled (forcing a shuffle join), the salted join
    must shuffle on (key, salt) — >1 partition receives rows of the same
    hot key — while still producing the plain-join result."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.catalog import load_table
    from milvus_cdc_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    dim = spark.createDataFrame(
        [("R", "r"), ("A", "a"), ("N", "n")], "l_returnflag string, d string"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(li, dim, key="l_returnflag", n_salts=8)
        plan = audit.formatted_plan(joined)
        assert "_salt" in plan  # salt participates in the join keys
        got = {
            (r.l_returnflag, r.n)
            for r in joined.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
        }
        want = {
            (r.l_returnflag, r.n)
            for r in li.join(dim, "l_returnflag")
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketing both fact tables on the join key pre-partitions the data
    so the sort-merge join needs NO Exchange — the co-located join that
    saves the dominant shuffle at 100 TB."""
    from milvus_cdc_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = audit.formatted_plan(joined)
        assert audit.count_exchanges(plan) == 0
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_partitions(spark, sf_dir):
    """Hive-style partitioned layout + partition pruning: a filter on the
    partition column must appear as PartitionFilters on the scan (pruned
    at planning, zero IO for other partitions) — the layout that turns a
    100 TB scan into a single-partition read."""
    import tempfile

    from milvus_cdc_spark.catalog import load_table

    tmp = tempfile.mkdtemp(prefix="part_")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(tmp + "/orders")
    df = (
        spark.read.parquet(tmp + "/orders")
        .filter(F.col("o_year") == 1997)
        .select("o_orderkey", "o_totalprice")
    )
    plan = audit.formatted_plan(df)
    assert "PartitionFilters" in plan
    assert any(
        "o_year" in line and "1997" in line
        for line in plan.splitlines()
        if "PartitionFilters" in line
    )


def test_tpch_q9_broadcasts_dims_and_pushes_part_filter(spark, sf_dir):
    """Q9's 6-table join: the p_name LIKE filter must reach the part scan
    (pushed as StringContains), supplier/nation must broadcast, and the
    derived partsupp side must not introduce a cartesian product against
    lineitem (only the tiny seq/count literals are cross-joined)."""
    df = suite.QUERIES["tpch_q9_product_profit"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert any("p_name" in p for p in audit.pushed_filters(plan))
    assert audit.count_broadcast_joins(plan) >= 2
    # lineitem joins partsupp/orders by key, never nested-loop
    assert "CartesianProduct" not in plan


def test_tpch_q16_anti_join_broadcast(spark, sf_dir):
    df = suite.QUERIES["tpch_q16_supplier_parts"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "LeftAnti" in plan
    # the blacklist side is catalog-sized → broadcast, not shuffled
    assert audit.count_broadcast_joins(plan) >= 1
    assert any("p_size" in p or "p_brand" in p for p in audit.pushed_filters(plan))


def test_timetick_heartbeat_single_window_shuffle(spark, sf_dir):
    """The heartbeat replay is one window partition-by + one channel agg:
    shuffle count stays O(1) (bounded by channel cardinality, not data)."""
    df = suite.QUERIES["timetick_heartbeat"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    # window over vchannel + final agg + orderBy: ≤4 exchanges, with the
    # groupBy(vchannel) reusing the window's vchannel partitioning (the
    # partial/final HashAggregate pair sits directly on the Window output,
    # no exchange in between)
    assert audit.count_exchanges(plan) <= 4


def test_rbac_routing_broadcasts_flags(spark, sf_dir):
    df = suite.QUERIES["rbac_routing"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    # the 2-row flags frame must be the broadcast side of the cross join
    assert "BroadcastNestedLoopJoin" in plan or audit.count_broadcast_joins(plan) >= 1
    assert "SortMergeJoin" not in plan


def test_filtered_ann_pushes_label_filter_before_distance(spark, sf_dir):
    """Hybrid search: the scalar predicate must reach the parquet scan —
    pruning candidates BEFORE any distance arithmetic runs."""
    df = suite.QUERIES["filtered_ann_topk"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert any("label" in p for p in audit.pushed_filters(plan))
    # query side broadcast, corpus never shuffled for the join
    assert "BroadcastNestedLoopJoin" in plan or audit.count_broadcast_joins(plan) >= 1


def test_consistency_levels_broadcasts_cutoffs(spark, sf_dir):
    """guarantee_ts cutoffs are a 3-row build side broadcast onto the
    op-log — never a shuffled join; the replay agg is the only keyed
    shuffle (partial+final, so exchanges stay bounded)."""
    df = suite.QUERIES["consistency_levels_read"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_metric_topk_is_projection_plus_window(spark, sf_dir):
    """L2 search: distance math is a pure projection over the
    broadcast-query pair frame — no shuffle before the ranking window,
    and the scan reads only the columns the metric needs."""
    df = suite.QUERIES["l2_search_topk"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    cols = audit.read_schema_columns(plan)
    assert all(set(c) <= {"vec_id", "embedding"} for c in cols)


def test_text_match_prunes_to_id_and_text(spark, sf_dir):
    """Posting build reads only (doc_id, text); the term filter applies
    before the per-doc distinct-count aggregation."""
    df = suite.QUERIES["text_match_retrieval"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    cols = audit.read_schema_columns(plan)
    assert all(set(c) <= {"doc_id", "text"} for c in cols)


def test_growing_sealed_single_agg_chain(spark, sf_dir):
    """The sealed/growing union re-aggregates with partial+final hash
    aggregation — the merge costs one keyed shuffle per side plus the
    final agg, independent of how state is split."""
    df = suite.QUERIES["growing_sealed_read"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_sequence_packing_has_no_single_partition_window(spark, sf_dir):
    """The packing running-sum window partitions by the md5 shard key, so
    the plan must contain NO `Exchange SinglePartition` — the shape that
    would funnel the whole corpus through one task's sort at 100 TB."""
    df = suite.QUERIES["sequence_packing"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "SinglePartition" not in plan
    assert "Window" in plan  # still the one running-sum window


def test_db_scoped_remap_broadcasts_both_rule_classes(spark, sf_dir):
    """Both remap joins (exact + db-wildcard) must broadcast the tiny
    mapping side — never shuffle the op stream for a rule table."""
    df = suite.QUERIES["db_scoped_remap"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_winnowing_window_reuses_pre_explosion_shuffle(spark, sf_dir):
    """The id-keyed repartition BEFORE the gram explosion must satisfy
    the per-doc window: exactly one hashpartitioning exchange of the
    compact documents, none of the exploded gram rows."""
    from milvus_cdc_spark.analytics.dedup import winnowing_fingerprints
    from milvus_cdc_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = audit.formatted_plan(winnowing_fingerprints(docs))
    # exchanges: the doc_id repartition + the final distinct — the window
    # itself must NOT add a third (it reuses the repartition)
    n_exchanges = len(
        [l for l in plan.splitlines() if l.strip().startswith("Arguments: hashpartitioning")]
    )
    assert "SinglePartition" not in plan
    assert n_exchanges <= 2, plan[:2000]


def test_ntile_quartiles_has_no_single_partition_window(spark, sf_dir):
    """distributed_ntile replaces the global ntile window: the plan must
    contain NO `Exchange SinglePartition` over the orders scan — the
    only single-partition exchange allowed is none at all; the per-pid
    window and the tiny offsets frame stay partition-parallel."""
    df = suite.QUERIES["ntile_quartiles"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_vocab_build_has_no_single_partition_window(spark, sf_dir):
    """build_vocab assigns token ids via distributed_row_number (range
    partition + per-partition rank + driver offsets) — the plan must
    contain NO `Exchange SinglePartition`: a 100 TB corpus has 10^7-10^8
    distinct terms, too many for one task's sort."""
    df = suite.QUERIES["vocab_build"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()


def test_rank_cache_release(spark):
    """distributed_row_number caches its range-ranked intermediate in the
    persist ledger, so the next dispatch frees it; release empties the
    ledger and unpersists the frame."""
    from milvus_cdc_spark.operators import windows

    cache_registry.release()
    df = spark.range(100).withColumnRenamed("id", "v")
    out = windows.distributed_row_number(df, ["v"], n_partitions=4, rank_col="rk")
    (local,) = cache_registry._ledger()
    rows = {r.v: r.rk for r in out.collect()}
    assert rows == {v: v + 1 for v in range(100)}
    cache_registry.release()
    assert cache_registry._ledger() == []
    assert not local.storageLevel.useMemory


def test_channel_msg_counts_two_level_aggregate(spark, sf_dir):
    """msg_count surface: one scan, partial+final hash aggregation at
    both levels (vchannel × op_type, then vchannel) — no joins, no
    single-partition funnels of table-sized data."""
    df = suite.QUERIES["channel_msg_counts"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels


def test_ivf_kmeans_build_broadcasts_centroids(spark, sf_dir):
    """Lloyd assignment must broadcast the k-row centroid side — the
    corpus is never shuffled for a join; the only corpus shuffle is the
    k-group mean aggregation (with map-side partial)."""
    df = suite.QUERIES["ivf_kmeans_build"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_keyset_pagination_pushes_cursor_and_takes_ordered(spark, sf_dir):
    """Iterator pagination: the keyset predicate reaches the scan and the
    page materializes via TakeOrderedAndProject — page N costs page-1
    work, unlike OFFSET."""
    df = suite.QUERIES["keyset_pagination"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert any("o_orderdate" in p for p in audit.pushed_filters(plan))
    assert "TakeOrderedAndProject" in plan


def test_pq_adc_scan_side_stays_on_codes(spark, sf_dir):
    """ADC search: the per-query lookup table broadcasts onto the byte
    codes (BroadcastHashJoin), nothing degenerates to a cartesian
    product, and the (query, doc) distance sum partial-aggregates
    map-side before its one shuffle — at 100 TB the float corpus is
    read at encode time only, never per query."""
    df = suite.QUERIES["pq_adc_recall"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()  # map-side combine on the adist sum


def test_pq_train_broadcasts_codebooks(spark, sf_dir):
    """PQ training mirrors the IVF plan contract: the m*k codebook side
    broadcasts; the corpus never joins by shuffle."""
    df = suite.QUERIES["pq_codebooks"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pq_lut_broadcasts_onto_codes(spark, sf_dir):
    """IVF_PQ query path: the probe LUT broadcasts onto the byte codes,
    nothing degenerates to a cartesian product, and the ADC sum
    partial-aggregates map-side — query cost tracks probed-list size,
    never corpus size."""
    df = suite.QUERIES["ivf_pq_recall"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_semdedup_joins_are_keyed_not_cartesian(spark, sf_dir):
    """SemDeDup: the only cross join is the broadcast of the k-row
    centroid set (assignment); the within-cluster pair join is an
    EQUI-join on centroid_id — never an unkeyed cartesian over the
    corpus."""
    df = suite.QUERIES["semdedup_prune"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the centroid cross joins must be broadcast-built (k rows)
    assert "BroadcastNestedLoopJoin" in plan


def test_duplicate_spans_no_single_partition(spark, sf_dir):
    """Duplicate-span coverage: gram counting, dup-gram join, and the
    coverage distinct are all key-partitioned; the whole-corpus plan
    has no SinglePartition funnel (the per-source rollup is the final
    few-row aggregate)."""
    from milvus_cdc_spark.analytics.dedup import duplicate_spans
    from milvus_cdc_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = audit.formatted_plan(duplicate_spans(docs, n=3))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_bucket_dim_is_broadcast(spark, sf_dir):
    """DSIR: the n_buckets-row log-ratio dim must broadcast back onto
    the feature stream (it is fixed-size at any corpus scale); the only
    SinglePartition exchange is the 1-row totals merge."""
    df = suite.QUERIES["dsir_importance_selection"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_pk_get_by_ids_pushes_in_list(spark, sf_dir):
    """Milvus get(): the PK id list must reach the parquet scan as a
    pushed In filter (row-group pruning on PK min/max at 100 TB), and
    the scan must read only the projected output fields."""
    df = suite.QUERIES["pk_get_by_ids"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    pushed = " ".join(audit.pushed_filters(plan))
    assert "doc_id" in pushed and ("In(" in pushed or "In (" in pushed)
    cols = audit.read_schema_columns(plan)
    assert all(
        set(c) <= {"doc_id", "lang", "source", "n_chars"} for c in cols
    )


def test_expr_count_star_pushes_disjunction(spark, sf_dir):
    """query(count(*)) with a compiled expr: the disjunctive predicate
    reaches the scan (Or pushed filter) and the plan is a pure
    partial+final count — no join, no window."""
    df = suite.QUERIES["expr_count_star"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    pushed = " ".join(audit.pushed_filters(plan))
    assert "Or(" in pushed or "p_size" in pushed
    assert "Join" not in plan


def test_pagerank_top10_is_take_ordered(spark, sf_dir):
    """The final top-10 must be TakeOrderedAndProject — never a global
    sort of the node-score frame."""
    df = suite.QUERIES["pagerank_trade_graph"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_pmi_top10_is_take_ordered(spark, sf_dir):
    """PMI ranking must shortlist via TakeOrderedAndProject; the only
    single-partition exchange allowed is the 1-row bigram-total merge."""
    df = suite.QUERIES["pmi_collocations"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_quantile_normalize_windows_ride_the_histogram(spark, sf_dir):
    """The only partition-less window runs over the 16-bucket GLOBAL
    histogram (post-aggregate, control-sized) — the corpus-touching
    stage must be a plain hash aggregate, and the global-bucket dim must
    broadcast onto the source CDF."""
    df = suite.QUERIES["quality_quantile_normalize"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # corpus aggregate keys on (source, bucket): hashpartitioning exchange
    assert "hashpartitioning" in plan.lower()


def test_weighted_sample_gate_is_a_scan_side_filter(spark, sf_dir):
    """The PPS gate evaluates before any shuffle: the only join is the
    broadcast of the 1-row corpus total, and the plan has no sort-merge
    join anywhere."""
    df = suite.QUERIES["weighted_doc_sample"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "SortMergeJoin" not in plan


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The range join must execute as equi-joins on (user, bucket) —
    never BroadcastNestedLoopJoin, the theta-join shape that dies at
    scale."""
    df = suite.QUERIES["interval_bucket_join"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_roc_auc_prefix_sum_is_distributed(spark, sf_dir):
    """The Mann-Whitney cumulative-negatives step must use the
    range-partitioned prefix-sum, never a global-order window: no
    Exchange SinglePartition except the final 1-row scalar-aggregate
    merge, and a rangepartitioning exchange present."""
    df = suite.QUERIES["roc_auc_quality"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    cache_registry.release()
    assert "rangepartitioning" in plan.lower()
    # the only SinglePartition allowed is the final scalar-agg merge of
    # the 1-row output — there must be at most one, and no global-sort
    # window (Window + SinglePartition adjacency is the killer shape)
    singles = [
        l for l in plan.splitlines() if "SinglePartition" in l
    ]
    assert len(singles) <= 1, plan[:3000]


def test_triangle_counts_no_cartesian(spark, sf_dir):
    """Degree-oriented triangle listing: every join is a key-partitioned
    equi-join — no CartesianProduct, no BroadcastNestedLoopJoin."""
    df = suite.QUERIES["triangle_parts_topk"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_boilerplate_shuffles_fingerprints_not_text(spark, sf_dir):
    """The per-source occurrence aggregate keys on the 16-hex md5 prefix:
    no exchange may carry line_text (the corpus shuffles fingerprints,
    not prose), and the final rollup is source-keyed."""
    df = suite.QUERIES["boilerplate_line_stats"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    for line in plan.splitlines():
        if line.strip().startswith("Arguments: hashpartitioning"):
            assert "line_text" not in line, line


def test_setsim_join_no_cartesian(spark, sf_dir):
    """Prefix-filtered set-similarity join: candidate generation and
    verification are element-keyed equi-joins — no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere in the plan."""
    df = suite.QUERIES["setsim_prefix_join"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_setsim_candidate_join_carries_ppjoin_prunes(spark, sf_dir):
    """The PPJoin length + positional filters must run INSIDE the
    candidate equi-join (before the distinct and the array-carrying
    verify joins), not as a later filter over materialized pairs. The
    length filter's least/greatest pair and the positional bound's
    (1e6 + t) multiplier are the plan fingerprints; both land in the
    join's condition/filter section, which names the prefix rank
    column rn — absent from every post-candidate stage."""
    from milvus_cdc_spark.analytics import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.shingle_rows(docs, "doc_id", "text", n=3)
    out = dedup.set_similarity_join(
        sh, threshold_ppm=500000, id_col="doc_id", item_col="s"
    )
    plan = audit.formatted_plan(out)
    assert "least(" in plan and "greatest(" in plan
    assert "1500000" in plan  # (1e6 + t) positional multiplier
    # Prefix ranks reach the join, not just plen: match a column
    # REFERENCE token (rn#<exprId>), not the bare substring "rn" which
    # appears inside unrelated plan words.
    assert re.search(r"\brn#\d+", plan), "rn column reference not in plan"


def test_scd2_asof_union_join_no_range_join(spark, sf_dir):
    """The union-sort as-of join exists to AVOID the range-join shape:
    the fact-to-version matching must be the key-partitioned window,
    never a theta join of facts x versions. The ONE nested-loop allowed
    is the broadcast CROSS that builds the users x weeks dimension (a
    ~5-row broadcast side) — the join the operator replaces would be a
    second, data-sized one."""
    df = suite.QUERIES["scd2_asof_enrich"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # formatted plans print each node twice (tree line + detail section);
    # the tree line carries the join type — exactly one Cross BuildRight
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert "Window" in plan


def test_hamming_banded_join_no_cartesian(spark, sf_dir):
    """Pigeonhole banding turns the Hamming join into band-equality
    equi-joins — no cartesian anywhere."""
    df = suite.QUERIES["hamming_banded_join"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_maxsim_scores_in_row_without_explode(spark, sf_dir):
    """MaxSim's 8x8 max-sum must run INSIDE the row as higher-order
    expressions: no Generate (explode) node between the scan and the
    ranking window — exploding sub-vectors would multiply the scored
    frame 64x."""
    df = suite.QUERIES["maxsim_multivector_topk"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "Generate" not in plan, plan[:2000]


def test_pipeline_alive_drop_cutoffs_broadcast(spark):
    """alive() with manifest drop cutoffs joins the state read against
    catalog-sized cutoff dims — those joins must be broadcast (a
    sort-merge join here would shuffle the whole state table at 100 TB
    just to apply a handful of drop events)."""
    import tempfile

    from milvus_cdc_spark.plans import audit
    from milvus_cdc_spark.streaming.pipeline import CdcApplyPipeline

    tmp = tempfile.mkdtemp(prefix="plan_drops_")
    spark.createDataFrame(
        [
            (1, "insert", "default", "c0", "p0", "ch_0", 1, 1, 0),
            (5, "drop_partition", "default", "c0", "p0", "ch_0", -1, 0, 1),
            (6, "drop_collection", "default", "c1", "p0", "ch_0", -1, 0, 2),
            (7, "insert", "default", "c1", "p0", "ch_0", 2, 1, 3),
        ],
        "ts bigint, op_type string, db string, collection string, "
        "partition string, vchannel string, pk bigint, num_rows bigint, "
        "seq bigint",
    ).coalesce(1).write.parquet(tmp + "/src")
    pipe = CdcApplyPipeline(spark, tmp + "/src", tmp + "/work", n_buckets=4)
    pipe.run_available_now()
    assert pipe._manifest["coll_drops"] and pipe._manifest["part_drops"]
    plan = audit.formatted_plan(pipe.alive())
    assert audit.count_broadcast_joins(plan) >= 2
    assert "SortMergeJoin" not in plan


def test_maxsim_rerank_single_scoring_pass(spark, sf_dir, monkeypatch):
    """Two-phase MaxSim rerank (r7 reshape): the expensive all-pairs
    scoring frame must be consumed by ONE window pass — the exact-top3
    recall flag and the candidate rank ride the same sort — so the plan
    carries no join between ranked frames and exactly one window
    exchange over the scored data.

    Pinned with the r14 corpus scan-widening patched out: the widen adds
    one orthogonal hashpartitioning(vec_id) exchange above the scan (its
    own contract lives in tests/test_partitioning.py) and this test guards
    the scoring/window shape, not the input layout. ``maxsim_ann_rerank``
    imports ``widen_small_scan`` inside the function, so patching the
    module attribute reaches it."""
    import re

    from milvus_cdc_spark import partitioning

    monkeypatch.setattr(partitioning, "widen_small_scan", lambda df, *k: df)
    df = suite.QUERIES["maxsim_ann_rerank"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the scoring cross join (10 broadcast queries) is planned exactly
    # once — the old shape materialized it twice and self-joined
    joins = re.findall(r"\(\d+\) Broadcast\w*Join", plan)
    assert len(joins) == 1, plan[:3000]
    # one window shuffle + the final presentation sort, nothing else;
    # both ranking columns ride the same Exchange/Sort (the chained
    # Window nodes share partitioning, so no shuffle between them)
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 2, plan[:3000]


def test_bloom_gate_single_fact_scan(spark, sf_dir):
    """Bloom semi-join reduction: all four counters must fall out of ONE
    pass over the fact — one lineitem scan feeding a broadcast join and
    a single aggregate. The old shape ran four separate count jobs, and
    the old gate expression (a 16-arm CASE per hash, md5 subtree in
    every arm) fell out of codegen and evaluated interpreted — 62 s for
    a 600k-row scan at sf0.1 vs ~3 s now."""
    import re

    df = suite.QUERIES["bloom_semi_join_reduction"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert plan.count("lineitem.parquet") == 1, plan[:3000]
    assert len(re.findall(r"\(\d+\) Broadcast\w*Join", plan)) == 1, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the gate is a plain filter-free projection: each hash contributes
    # one md5 call, not one per nibble and not one per CASE arm
    assert plan.count("md5") <= 6, plan[:3000]


def test_bpe_encode_shuffle_free_merges(spark, sf_dir):
    """BPE encode (train-once, encode-everywhere): applying the learned
    merge rules is a per-row array fold — the plan between the word
    table and the final symbol aggregate must carry NO window and NO
    join. The old gaps-and-islands rebuild paid two self-joins and
    three windows PER MERGE over the exploded symbol table (11.6 s at
    sf0.1 for 4 rules; 2.2 s as a fold)."""
    df = suite.QUERIES["bpe_encode_vocab"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "Window" not in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_bulk_drop_replay_single_oplog_scan(spark, sf_dir):
    """replay_alive_with_drops folds pk ops AND bulk-drop ops in ONE
    aggregate over the op-log, then reads the catalog-sized cutoffs back
    out of the persisted aggregate — the raw lineitem scan must appear
    exactly once in the plan (the old shape re-ran the source scan +
    derivation chain once per cutoff dim: 3x read amplification)."""
    df = suite.QUERIES["partition_drop_replay"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    # formatted mode re-renders the cached InMemoryRelation subtree under
    # each InMemoryTableScan consumer, so count DISTINCT node entries in
    # the detail section: exactly one parquet scan node, reached only
    # through the cache (every consumer is an InMemoryTableScan)
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scan_nodes) == 1, plan[:3000]
    assert "InMemoryTableScan" in plan, plan[:3000]
    assert "CartesianProduct" not in plan
    cache_registry.release()


def test_co_group_pairs_no_self_join(spark, sf_dir):
    """Co-order pair generation (triangles / LPA / market basket) builds
    ordered pairs IN-ROW from the per-order item set — the plan between
    the lineitem scan and the pair distinct must carry no self-join.
    (Scope note: in-row pairs are only right for SMALL bounded groups
    like order baskets; LSH buckets keep the streaming self-join — see
    dedup.embedding_near_dup.)"""
    from milvus_cdc_spark.analytics import graph

    li = (
        suite._t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 35)
        .select("l_orderkey", "l_partkey")
    )
    pairs = graph.co_group_pairs(li, "l_orderkey", "l_partkey").distinct()
    plan = audit.formatted_plan(pairs)
    assert "Join" not in plan, plan[:3000]
    scan_nodes = re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE)
    assert len(scan_nodes) == 1, plan[:3000]


def test_delete_by_expr_replay_single_pass(spark, sf_dir):
    """The LWW + delete-by-expr state must stay ONE conditional
    aggregate over the op stream: no Window sort, no latest-insert /
    delete-max branch join — one lineitem scan node total."""
    df = suite.QUERIES["delete_by_expr_replay"].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert "Window" not in plan, plan[:3000]
    scan_nodes = set(re.findall(r"^\((\d+)\) Scan parquet", plan, re.MULTILINE))
    assert len(scan_nodes) == 1, plan[:3000]


SCAN_NODE_BUDGETS = {
    # query -> max DISTINCT parquet-scan node entries allowed in its
    # formatted plan. These pin the round-7 scan-node-audit fixes
    # (SCALE.md 5l): a regression re-introducing a re-derived training /
    # posting / assignment subtree shows up as extra scan nodes long
    # before it shows up in a bench. Budgets are the audited post-fix
    # counts plus slack of 1 for plan-id/AQE drift.
    "ivf_pq_recall": 13,        # was 82 unpersisted
    "mmr_diversified_search": 2,  # was 50 before the pick checkpoints
    "semdedup_prune": 9,        # was 24
    "ivf_nprobe_recall_curve": 9,  # was 24; r15 single-pass sweep: 8
    "pipeline_stage_accounting": 4,  # was 9
    "domain_mixture_weights": 1,     # was 12
    "preference_pair_builder": 5,    # was 8
    "source_overlap_matrix": 5,      # was 8
    "maxscore_pruned_search": 5,     # was 16
    "cluster_density_report": 2,     # strong pairs persisted
}


@pytest.mark.parametrize("name", sorted(SCAN_NODE_BUDGETS))
def test_scan_node_budget(spark, sf_dir, name):
    """Distinct parquet-scan node entries stay within the audited
    budget — the cheap detector for re-derived pipeline subtrees."""
    df = suite.QUERIES[name].fn(spark, sf_dir)
    plan = audit.formatted_plan(df)
    n = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n <= SCAN_NODE_BUDGETS[name], (name, n, plan[:2000])
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# BNLJ build-side audit (round-9 verdict #5): every BroadcastNestedLoopJoin
# must broadcast a BOUNDED frame — 1-row cutoffs, LUTs, centroid frames,
# literal query sets. A reshape that routes a data-sized frame into a BNLJ
# build side OOMs the driver at 100 TB; the audit catches it structurally.
# ---------------------------------------------------------------------------


def _plans_md_sections() -> list[tuple[str, str]]:
    """(query name, dumped plan text) per section of the checked-in
    PLANS.md artifact."""
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    out = []
    for sec in re.split(r"^## ", open(path).read(), flags=re.M)[1:]:
        m = re.search(r"```\n(.*?)```", sec, re.S)
        if m:
            out.append((sec.splitlines()[0].strip(), m.group(1)))
    return out


def test_bnlj_build_sides_bounded_in_plans_md():
    """Audit the checked-in PLANS.md artifact: no BNLJ build side in any
    dumped plan fails the gate. scripts/dump_plans.py fails on a
    violation itself; this test re-checks the artifact so a stale or
    hand-edited dump cannot hide an unbounded broadcast."""
    sections = _plans_md_sections()
    assert len(sections) >= 50, "PLANS.md unexpectedly small"
    recs = [(n, audit.bnlj_build_audit(text)) for n, text in sections]
    total = sum(len(r) for _, r in recs)
    bad = [(n, audit.failing("bnlj", r, n)) for n, r in recs]
    assert total >= 50, f"expected many BNLJs across PLANS.md, saw {total}"
    assert not [b for b in bad if b[1]], bad


def test_single_partition_benign_in_plans_md():
    """Audit the checked-in PLANS.md artifact: no SinglePartition
    exchange fails the gate (partial-aggregate buffers, LocalLimit,
    literal-only sources, or key-set-bounded scans are benign). The
    sweep fails on a violation itself; this re-checks the artifact."""
    recs = [(n, audit.single_partition_audit(t)) for n, t in _plans_md_sections()]
    total = sum(len(r) for _, r in recs)
    bad = [(n, audit.failing("sp", r, n)) for n, r in recs]
    assert total >= 30, f"expected many SinglePartition exchanges, saw {total}"
    assert not [b for b in bad if b[1]], bad


def test_single_partition_audit_flags_global_window(spark, sf_dir):
    """Negative control: a global row_number (empty partitionBy) over a
    raw parquet frame funnels the whole table through one task — must
    classify data_sized, proving the auditor can fail."""
    from pyspark.sql import Window as W

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # r > 5, not r <= 5: a top-k filter is rewritten by
    # LimitPushdownThroughWindow into TakeOrderedAndProject (no exchange
    # at all — itself a nice property), so invert it to force the real
    # SinglePartition window funnel.
    df = docs.withColumn(
        "r", F.row_number().over(W.orderBy("doc_id"))
    ).filter(F.col("r") > 5)
    recs = audit.single_partition_audit(audit.formatted_plan(df))
    assert recs, "expected a SinglePartition exchange under the global window"
    assert any(r["verdict"] == "data_sized" for r in recs), recs


def test_single_partition_audit_accepts_live_benign_queries(spark, sf_dir):
    """Positive control on live plans: a global-scalar family and the
    drop_ratio query-vector shape both classify benign end-to-end."""
    for name in ("ks_drift_test", "fulltext_drop_ratio"):
        _, recs, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        assert recs["sp"], f"{name}: expected at least one SinglePartition"
        assert not fails["sp"], fails
    spark.catalog.clearCache()


def test_bnlj_audit_flags_data_sized_broadcast(spark, sf_dir):
    """Negative control: a deliberate data-sized broadcast (full
    documents scan, no filter/aggregate, crossJoined) must be flagged
    unbounded — proving the auditor can actually fail."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    one = spark.range(1)
    df = one.crossJoin(F.broadcast(docs.select("doc_id", "text")))
    recs = audit.bnlj_build_audit(audit.formatted_plan(df))
    assert recs, "expected a BNLJ in the deliberate cross join"
    assert any(r["verdict"] == "unbounded" for r in recs), recs


def test_bnlj_audit_accepts_live_bounded_queries(spark, sf_dir):
    """Positive control on live plans (not the artifact): two BNLJ-heavy
    queries from different families classify bounded end-to-end."""
    for name in ("filtered_ann_topk", "temperature_mixing_rates"):
        _, recs, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        assert recs["bnlj"], f"{name}: expected at least one BNLJ"
        assert not fails["bnlj"], fails
    spark.catalog.clearCache()


def test_keyset_evidence_rejects_negations():
    """ADVICE r10 (medium): a negated key-set predicate selects the
    COMPLEMENT of a literal set — data-sized — and must not count as
    bounding evidence, pushed or driver-side."""
    # pushed side: positive forms match, Not(...)-wrapped forms don't
    assert audit._PUSHED_KEYSET_RE.search("In(lang, [en,fr])")
    assert audit._PUSHED_KEYSET_RE.search("EqualTo(lang,en)")
    assert not audit._PUSHED_KEYSET_RE.search("Not(In(lang, [en,fr]))")
    assert not audit._PUSHED_KEYSET_RE.search("Not(EqualTo(lang,en))")
    # pushed literal limit: same negation rule
    assert audit._PUSHED_LIMIT_RE.search("LessThan(vec_id,5)")
    assert not audit._PUSHED_LIMIT_RE.search("Not(EqualTo(vec_id,5))")
    # driver-side Filter condition
    assert audit._filter_keyset_positive("lang#5 IN (en,fr)")
    assert audit._filter_keyset_positive("tok#12L INSET batch,data")
    assert not audit._filter_keyset_positive("NOT (lang#5 IN (en,fr))")
    assert not audit._filter_keyset_positive("NOT lang#5 INSET en,fr")
    assert not audit._filter_keyset_positive(
        "isnotnull(lang#5) AND NOT (lang#5 IN (en,fr))"
    )
    # a genuine positive alongside a negation still counts
    assert audit._filter_keyset_positive(
        "src#1 IN (a,b) AND NOT (lang#5 IN (en,fr))"
    )


def test_pushed_filters_capture_spans_embedded_brackets():
    """ADVICE r10 (low): the PushedFilters capture must survive multiple
    embedded ']' — e.g. two In(col,[...]) entries followed by a literal
    limit — without truncating away later entries."""
    detail = (
        "Scan parquet\nOutput [2]: [a#1, b#2]\n"
        "PushedFilters: [In(a, [1,2]), In(b, [3,4]), LessThan(vec_id,5)]\n"
        "ReadSchema: struct<a:int,b:int>"
    )
    m = re.search(r"PushedFilters: \[(.*)\]", detail)
    assert m and "LessThan(vec_id,5)" in m.group(1), m and m.group(1)
    assert audit._PUSHED_LIMIT_RE.search(m.group(1))


def test_single_partition_audit_flags_global_collect(spark, sf_dir):
    """ADVICE r10 (low): a global collect_list straight off a raw scan
    ships every row's payload into ONE final task — the partial_collect_
    buffer is partition-count-bounded in ROWS but data-sized in BYTES,
    so it must classify data_sized, not benign."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = docs.agg(F.collect_list("text").alias("all_texts"))
    recs = audit.single_partition_audit(audit.formatted_plan(df))
    assert recs, "expected a SinglePartition exchange under global collect"
    assert any(r["verdict"] == "data_sized" for r in recs), recs


def test_single_partition_audit_accepts_collect_over_aggregate(spark, sf_dir):
    """Positive control for the refined collect rule: collecting the
    result of a keyed aggregate holds one element per group (the
    kmeans_silhouette centroid-frame shape) — classifies benign with
    the residual-risk evidence string."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_lang = docs.groupBy("lang").agg(F.count("*").alias("n"))
    df = per_lang.agg(F.collect_list(F.struct("lang", "n")).alias("dist"))
    recs = audit.single_partition_audit(audit.formatted_plan(df))
    assert recs, "expected a SinglePartition exchange"
    assert all(r["verdict"] == "benign" for r in recs), recs
    assert any(
        "collect-buffer over keyed aggregate" in e
        for r in recs
        for e in r["evidence"]
    ), recs


def test_broadcast_provenance_classes_in_plans_md():
    """Audit the checked-in PLANS.md artifact: every BroadcastExchange
    classifies into one of the five provenance classes, and the
    planner_sized share (threshold choices AQE demotes at scale) stays
    a minority — the structural broadcasts are catalog/k/query/dim."""
    counts: dict[str, int] = {}
    for _, text in _plans_md_sections():
        for rec in audit.broadcast_provenance_audit(text):
            counts[rec["verdict"]] = counts.get(rec["verdict"], 0) + 1
    total = sum(counts.values())
    assert total >= 100, f"expected many broadcasts across PLANS.md: {counts}"
    assert set(counts) <= {
        "catalog_sized", "k_sized", "query_sized", "dim_sized",
        "planner_sized",
    }, counts
    assert counts.get("planner_sized", 0) < total / 2, counts


def test_broadcast_hint_audit_flags_forced_data_sized(spark, sf_dir):
    """Negative controls: an explicit F.broadcast() on a raw fact frame
    must classify data_sized — both the crossJoin shape and the inner
    equi-join against another data-sized side (join-bounding must not
    excuse it)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bad = spark.range(1).crossJoin(F.broadcast(docs.select("doc_id", "text")))
    recs = audit.broadcast_hint_audit(audit.optimized_logical_plan(bad))
    assert any(r["verdict"] == "data_sized" for r in recs), recs
    _, _, fails = audit.gate(bad, "neg")
    assert fails["hints"], recs
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bad2 = li.join(
        F.broadcast(docs.select(F.col("doc_id").alias("l_orderkey"), "text")),
        "l_orderkey",
    )
    recs2 = audit.broadcast_hint_audit(audit.optimized_logical_plan(bad2))
    assert any(r["verdict"] == "data_sized" for r in recs2), recs2


def test_broadcast_hint_audit_accepts_bounded_shapes(spark, sf_dir):
    """Positive controls: a hinted fixed-table dim join classifies
    catalog_sized, and the join-bounded shape (full fact inner-joined
    to a k-row limited frame, then hinted) classifies bounded via the
    other side's limit — the PQ centroid-init pattern."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    good = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    _, recs, fails = audit.gate(good, "dim")
    assert not fails["hints"], fails
    recs = recs["hints"]
    assert recs and all(r["verdict"] == "catalog_sized" for r in recs), recs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = emb.select("vec_id").orderBy("vec_id").limit(16)
    init = emb.join(F.broadcast(seeds), "vec_id")
    outer = emb.select(F.col("vec_id").alias("qid")).crossJoin(
        F.broadcast(init.select("vec_id", "embedding"))
    )
    _, recs2, fails2 = audit.gate(outer, "join-bounded")
    assert not fails2["hints"], fails2
    recs2 = recs2["hints"]
    assert any(
        "join-bounded" in e or "under limit" in e
        for r in recs2
        for e in r["evidence"]
    ), recs2


def test_broadcast_hint_audit_live_query_panel(spark, sf_dir):
    """Live gate over hint-heavy queries from different families: every
    explicit broadcast hint classifies bounded end-to-end (the
    full-registry sweep is scripts/dump_plans.py)."""
    for name in ("pq_codebooks", "tpch_q9_product_profit", "semdedup_prune"):
        _, recs, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        assert not fails["hints"], (name, recs["hints"])
    spark.catalog.clearCache()


def test_hint_stamps_all_bounded_in_plans_md():
    """The dump stamps `hints=N hints_bounded=M` per section from the
    LIVE optimized logical plan (not recoverable from the physical
    text); this artifact check asserts every stamp parses and no
    section shipped with an unbounded hinted side."""
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    md = open(path).read()
    stamps = re.findall(r"hints=(\d+) hints_bounded=(\d+)", md)
    assert len(stamps) >= 100, f"expected a stamp per section: {len(stamps)}"
    total = sum(int(h) for h, _ in stamps)
    assert total >= 50, f"expected many hinted sides across the suite: {total}"
    bad = [(h, b) for h, b in stamps if int(b) != int(h)]
    assert not bad, f"sections with unbounded hinted sides: {bad}"


# ---------------------------------------------------------------------------
# Condition-less cross audit (round-11 verdict #4): a keyed-aggregate
# build multiplying an unbounded stream is the langid accident class —
# the multiplier is a group count static text can't bound, and the shape
# is frequently replaceable by one aggregate. The gate fails it unless
# the query is reviewed into audit.KEYED_CROSS_ALLOWED.
# ---------------------------------------------------------------------------


def test_cartesian_audit_flags_keyed_cross_of_corpus(spark, sf_dir):
    """Live negative control: the pre-fix langid shape — a distinct
    (keyed aggregate) class frame crossJoined onto the full corpus —
    must classify keyed_multiplied and fail the gate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    classes = docs.select(F.col("lang").alias("cls")).distinct()
    # hint the class frame so the small test SF can't flip the planner
    # into broadcasting the corpus side instead (at scale the distinct
    # IS the broadcast side, as the pre-fix langid plan shows)
    joined = docs.select("lang", "doc_id").crossJoin(F.broadcast(classes))
    out = joined.groupBy("cls").agg(F.count("*").alias("n"))
    recs = audit.cartesian_audit(audit.formatted_plan(out))
    assert recs, "expected a condition-less cross"
    assert any(r["verdict"] == "keyed_multiplied" for r in recs), recs
    _, _, fails = audit.gate(out, "neg")
    assert fails["crosses"], recs


def test_cartesian_audit_accepts_scalar_and_literal_builds(spark, sf_dir):
    """Positive controls: a global-aggregate (1-row) build classifies
    scalar_augment; a literal build (spark.range) classifies
    literal_multiplied — both non-failing deliberate idioms."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mean = docs.agg(F.avg(F.length("text")).alias("mu"))
    aug = docs.crossJoin(F.broadcast(mean))
    _, recs, fails = audit.gate(aug, "scalar")
    assert not fails["crosses"], fails
    assert any(r["verdict"] == "scalar_augment" for r in recs["crosses"]), recs
    panel = spark.range(3).withColumnRenamed("id", "probe")
    lit = docs.crossJoin(F.broadcast(panel))
    _, recs2, fails2 = audit.gate(lit, "lit")
    assert not fails2["crosses"], fails2
    assert any(
        r["verdict"] == "literal_multiplied" for r in recs2["crosses"]
    ), recs2


def test_cartesian_audit_langid_fix_has_no_cross(spark, sf_dir):
    """The reshaped langid_precision_recall (confusion-matrix aggregate)
    carries NO condition-less cross at all — the gate's live positive."""
    name = "langid_precision_recall"
    _, recs, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
    assert not fails["crosses"], fails
    assert not [
        r for r in recs["crosses"] if r["verdict"] == "keyed_multiplied"
    ], recs
    spark.catalog.clearCache()


def test_cartesian_audit_allowlisted_queries_still_keyed(spark, sf_dir):
    """The KEYED_CROSS_ALLOWED entries are real: each allowlisted query
    actually plans a keyed_multiplied cross (else the entry is stale),
    and passes the gate only under its own reviewed name."""
    for name in sorted(audit.KEYED_CROSS_ALLOWED):
        _, recs, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        crosses = recs["crosses"]
        assert any(
            r["verdict"] == "keyed_multiplied" for r in crosses
        ), (name, crosses)
        assert not fails["crosses"], (name, fails)
        assert audit.failing("crosses", crosses, "unreviewed"), (name, crosses)
        spark.catalog.clearCache()


def test_gate_failing_rule():
    """The one failing rule, verdict by verdict: BNLJ builds fail unless
    bounded, SinglePartition exchanges unless benign, hints when
    data_sized; a cross fails when unbounded, and when keyed_multiplied
    only for a query outside KEYED_CROSS_ALLOWED; provenance never
    fails."""

    def fails(gate_name, verdicts, name="unreviewed"):
        recs = [{"verdict": v} for v in verdicts]
        return [r["verdict"] for r in audit.failing(gate_name, recs, name)]

    assert fails("bnlj", ["bounded", "unbounded", "opaque"]) == [
        "unbounded", "opaque"
    ]
    assert fails("sp", ["benign", "data_sized"]) == ["data_sized"]
    assert fails("hints", ["catalog_sized", "dim_hinted", "data_sized"]) == [
        "data_sized"
    ]
    crosses = ["bounded", "scalar_augment", "literal_multiplied",
               "keyed_multiplied", "unbounded"]
    assert fails("crosses", crosses) == ["keyed_multiplied", "unbounded"]
    allowed = sorted(audit.KEYED_CROSS_ALLOWED)[0]
    assert fails("crosses", crosses, allowed) == ["unbounded"]
    assert fails("bex", ["catalog_sized", "k_sized", "query_sized",
                         "dim_sized", "planner_sized"]) == []


def test_cartesian_classes_in_plans_md():
    """Artifact sweep: every condition-less cross in PLANS.md classifies
    into the taxonomy and no failing instance ships (langid's pre-fix
    plan was the one keyed_multiplied outside the allowlist; the
    regenerated dump must not contain another)."""
    recs = [(n, audit.cartesian_audit(t)) for n, t in _plans_md_sections()]
    total = sum(len(r) for _, r in recs)
    bad = [(n, audit.failing("crosses", r, n)) for n, r in recs]
    assert total >= 50, f"expected many crosses across PLANS.md: {total}"
    assert not [b for b in bad if b[1]], bad


def test_join_bounding_requires_equality(spark, sf_dir):
    """ADVICE r11 (medium): a theta join (non-equi condition) against a
    k-sized side must NOT grant join-bounding to a hinted fact-side
    broadcast — a theta join against k rows can emit |fact|-sized
    output. The equi form still qualifies."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = emb.select(F.col("vec_id").alias("cutoff")).limit(4)
    # non-equi: every hint-side row survives for vec_id < max(cutoff)
    theta = emb.join(seeds, emb.vec_id < seeds.cutoff, "inner")
    bad = spark.range(1).crossJoin(
        F.broadcast(theta.select("vec_id", "embedding"))
    )
    recs = audit.broadcast_hint_audit(audit.optimized_logical_plan(bad))
    assert any(r["verdict"] == "data_sized" for r in recs), recs
    # equi control: same frames joined on equality stay join-bounded
    equi = emb.join(seeds, emb.vec_id == seeds.cutoff, "inner")
    good = spark.range(1).crossJoin(
        F.broadcast(equi.select("vec_id", "embedding"))
    )
    recs2 = audit.broadcast_hint_audit(audit.optimized_logical_plan(good))
    assert recs2 and all(r["verdict"] != "data_sized" for r in recs2), recs2
    # unit: hint spans' '=' must not read as an equality
    assert not audit._join_condition_equi(
        "Join Inner, (l_ship#3 < cutoff#9), rightHint=(strategy=broadcast)"
    )
    assert audit._join_condition_equi(
        "Join Inner, (l_orderkey#1L = o_orderkey#5L), "
        "rightHint=(strategy=broadcast)"
    )
    assert audit._join_condition_equi("Join Inner, (a#1 <=> b#2)")


def test_join_bounding_rejects_not_equal(spark, sf_dir):
    """ADVICE r13 (medium): a pure ``!=`` theta join renders as
    ``NOT (a#1 = b#2)`` and its inner ``=`` must NOT read as equi-join
    evidence — a !=-join against k rows emits |fact|-sized output
    (near-cross). Equalities OUTSIDE a NOT span still qualify."""
    # unit: the NOT-span renderings
    assert not audit._join_condition_equi(
        "Join Inner, NOT (l_shipmode#3 = probe#9), "
        "rightHint=(strategy=broadcast)"
    )
    assert not audit._join_condition_equi(
        "Join Inner, NOT ((a#1 = b#2) OR (c#3 = d#4))"
    )
    assert not audit._join_condition_equi("Join Inner, NOT (a#1 <=> b#2)")
    assert audit._join_condition_equi(
        "Join Inner, ((a#1 = b#2) AND NOT (c#3 = d#4))"
    )
    # live: the !=-joined frame must classify data_sized under a hint
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = emb.select(F.col("vec_id").alias("cutoff")).limit(4)
    neq = emb.join(seeds, emb.vec_id != seeds.cutoff, "inner")
    bad = spark.range(1).crossJoin(
        F.broadcast(neq.select("vec_id", "embedding"))
    )
    recs = audit.broadcast_hint_audit(audit.optimized_logical_plan(bad))
    assert any(r["verdict"] == "data_sized" for r in recs), recs


def test_strip_not_spans_property():
    """Property: after stripping, no ``NOT (`` survives; equalities
    outside NOT spans survive verbatim; text without NOT is unchanged.
    Randomized nesting over a small grammar (seeded — deterministic)."""
    import random

    rng = random.Random(1313)

    def gen(depth=0):
        # returns (text, has_outside_equality)
        kind = rng.randrange(4 if depth < 3 else 2)
        if kind == 0:
            return f"(a#{rng.randrange(99)} < b#{rng.randrange(99)})", False
        if kind == 1:
            return f"(a#{rng.randrange(99)}L = b#{rng.randrange(99)}L)", True
        if kind == 2:
            inner, _ = gen(depth + 1)
            return f"NOT {inner if inner.startswith('(') else '(' + inner + ')'}", False
        l, le = gen(depth + 1)
        r, re_ = gen(depth + 1)
        return f"({l} AND {r})", le or re_

    for _ in range(300):
        text, has_eq = gen()
        stripped = audit._strip_not_spans(text)
        assert "NOT (" not in stripped, (text, stripped)
        assert audit._join_condition_equi("Join Inner, " + text) == has_eq, (
            text, stripped, has_eq,
        )


def test_cartesian_audit_keyed_x_keyed_not_bounded(spark, sf_dir):
    """ADVICE r13 (low): a cross of two KEYED aggregates (e.g. distinct
    x distinct) must classify keyed_multiplied, not bounded — the
    audit's own premise is that a keyed aggregate's group count cannot
    be bounded from plan text. A scalar (global-agg) side crossing a
    keyed side stays non-failing (multiplier exactly 1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    langs = docs.select("lang").distinct()
    sources = docs.select("source").distinct()
    both_keyed = langs.crossJoin(F.broadcast(sources))
    _, recs, fails = audit.gate(both_keyed, "kxk")
    assert any(
        r["verdict"] == "keyed_multiplied" for r in recs["crosses"]
    ), recs
    assert fails["crosses"], recs
    # scalar x keyed: multiplier 1 — must stay non-failing
    mu = docs.agg(F.avg(F.length("text")).alias("mu"))
    scalar_keyed = langs.crossJoin(F.broadcast(mu))
    _, recs2, fails2 = audit.gate(scalar_keyed, "sxk")
    assert not fails2["crosses"], fails2
    assert all(
        r["verdict"] != "keyed_multiplied" for r in recs2["crosses"]
    ), recs2


def test_cartesian_audit_build_is_broadcast_exchange(spark, sf_dir):
    """ADVICE r13 (low): the BNLJ build side must be located by
    ``BroadcastExchange`` specifically — a stream side sitting directly
    under a shuffle Exchange (round-robin repartition here) must not be
    misread as the build, which would swap build/stream classes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mu = docs.agg(F.avg(F.length("text")).alias("mu"))
    # repartition puts a shuffle Exchange directly under the cross on
    # the STREAM side; the build is the broadcast global aggregate
    aug = docs.repartition(8).crossJoin(F.broadcast(mu))
    plan, recs, fails = audit.gate(aug, "shuffled-stream")
    assert "Exchange" in plan, plan  # shape check: shuffle present
    assert not fails["crosses"], fails
    assert any(r["verdict"] == "scalar_augment" for r in recs["crosses"]), recs


def test_pushed_evidence_rejects_nested_negations():
    """ADVICE r11 (low): Not(Or(...))-nested and disjunctive pushed
    filters must not count as bounding evidence; top-level positive
    conjuncts still do — even alongside a negated sibling."""
    assert not audit._pushed_limit_positive(
        "Not(Or(EqualTo(c,5),EqualTo(c,6)))"
    )
    assert not audit._pushed_limit_positive(
        "Or(EqualTo(c,5),GreaterThan(d,10))"
    )
    assert audit._pushed_limit_positive(
        "IsNotNull(c), EqualTo(c,5), Not(In(d, [1,2]))"
    )
    assert not audit._pushed_keyset_positive("Not(In(lang, [en,fr]))")
    assert not audit._pushed_keyset_positive(
        "Or(In(lang, [en,fr]),GreaterThan(len,10))"
    )
    assert audit._pushed_keyset_positive(
        "In(lang, [en,fr]), Not(EqualTo(src,web))"
    )


def test_hinted_raw_dim_surfaces_as_dim_hinted(spark, sf_dir):
    """ADVICE r11 (low): a FORCED F.broadcast() on a raw SF-scaled dim
    scan reports the distinct non-failing dim_hinted verdict so dumps
    surface it for review (AQE cannot demote a hint), instead of
    folding it into the silently-accepted dim_sized class."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = li.join(
        F.broadcast(orders), li.l_orderkey == orders.o_orderkey
    )
    _, recs, fails = audit.gate(df, "dim-hint")
    assert not fails["hints"], fails
    assert any(r["verdict"] == "dim_hinted" for r in recs["hints"]), recs


def test_single_partition_accepts_catalog_keyed_aggregate(spark, sf_dir):
    """r12 full-gate-sweep follow-up: a global window over the OUTPUT of
    an aggregate keyed exclusively by catalog-cardinality columns (one
    row per vchannel — the watermark_ts shape) is benign; the same
    window over a doc_id-keyed aggregate still fails (document keys are
    corpus-sized)."""
    df = suite.QUERIES["watermark_ts"].fn(spark, sf_dir)
    _, recs, fails = audit.gate(df, "watermark_ts")
    assert not fails["sp"], fails
    assert any(
        "catalog-keyed aggregate" in e for r in recs["sp"] for e in r["evidence"]
    ), recs
    # negative control: corpus-keyed aggregate into a global window
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_doc = docs.groupBy("doc_id").agg(F.count("*").alias("n"))
    from pyspark.sql import Window as W

    bad = per_doc.withColumn(
        "total", F.sum("n").over(W.partitionBy().orderBy("doc_id"))
    )
    recs2 = audit.single_partition_audit(audit.formatted_plan(bad))
    assert any(r["verdict"] == "data_sized" for r in recs2), recs2
    spark.catalog.clearCache()


def test_full_registry_gate_clean_trio(spark, sf_dir):
    """The three queries the r12 FULL-registry sweep flagged (the first
    gate findings outside the PLANS.md showcase) pass all five gates of
    audit.gate after their fixes: watermark_ts via the catalog-keyed
    allowance, histogram_quantile_sketch via the plan-visible
    limit(256) bound, error_spike_detection via the rank-self-join lag
    reshape (no unpartitioned window at all)."""
    for name in (
        "watermark_ts",
        "error_spike_detection",
        "histogram_quantile_sketch",
    ):
        _, _, fails = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        assert not any(fails.values()), (name, fails)
        spark.catalog.clearCache()


def test_catalog_key_cols_are_scale_invariant():
    """The audit's catalog-keyed-aggregate allowance rests on a factual
    claim: _CATALOG_KEY_COLS columns have cardinality fixed by config /
    the generator, NOT the corpus. Tripwire it on the fixtures — if a
    regenerated fixture ever makes one of these scale with SF, the
    allowance premise (and this test) breaks loudly."""
    import duckdb

    from milvus_cdc_spark import oplog

    con = duckdb.connect()
    seen = []
    for sf in ("sf0.001", "sf0.01"):
        for t in ("lineitem", "documents", "events"):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '/root/testdata/{sf}/{t}.parquet'"
            )
        ops = oplog.ORACLE_OPLOG_SQL
        seen.append(
            con.execute(
                f"""
                SELECT
                  (SELECT count(DISTINCT source) FROM documents),
                  (SELECT count(DISTINCT lang) FROM documents),
                  (SELECT count(DISTINCT event_type) FROM events),
                  (SELECT count(DISTINCT vchannel) FROM ({ops})),
                  (SELECT count(DISTINCT collection) FROM ({ops})),
                  (SELECT count(DISTINCT op_type) FROM ({ops}))
                """
            ).fetchone()
        )
    assert seen[0] == seen[1], (
        "catalog-column cardinality moved with scale factor: "
        f"{dict(zip(['source','lang','event_type','vchannel','collection','op_type'], zip(*seen)))}"
    )


def test_reused_broadcast_counted_with_fresh(spark):
    """reused_broadcast_count resolves a ReusedExchange back to the
    BroadcastExchange it reuses (and ignores shuffle reuse), so the
    GATES.json bex counter — fresh + reused together — is invariant to
    the JVM's reuse-vs-rederive choice (the r13 410-vs-411 wobble)."""
    from pyspark.sql import functions as F

    from milvus_cdc_spark.plans import audit

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        dim = spark.range(8).withColumnRenamed("id", "k")
        fact = spark.range(512).withColumnRenamed("id", "k")
        # different aggregates ABOVE an identical broadcast join: the
        # shared subtree is exactly the dim broadcast, so the second
        # branch's build prints as either a fresh BroadcastExchange or
        # a ReusedExchange pointing at the first one
        j1 = fact.join(F.broadcast(dim), "k").agg(
            F.count("*").alias("a")
        )
        j2 = fact.join(F.broadcast(dim), "k").agg(
            F.sum("k").alias("a")
        )
        plan = audit.formatted_plan(j1.unionAll(j2))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    fresh = len(audit.broadcast_provenance_audit(plan))
    reused = audit.reused_broadcast_count(plan)
    # two identical broadcast builds: however the JVM splits them
    # between fresh and reused, the combined count is exactly 2
    assert fresh + reused == 2, (fresh, reused, plan)


def test_reused_broadcast_count_parses_canned_plan():
    """Deterministic complement to the invariance test (which a
    reuse-free planner can satisfy without exercising the resolver):
    on a canned formatted plan, a ReusedExchange pointing at a
    BroadcastExchange counts 1 and one pointing at a shuffle Exchange
    counts 0."""
    from milvus_cdc_spark.plans import audit

    plan = """== Physical Plan ==
* Project (5)
:- * BroadcastHashJoin Inner BuildRight (3)
:  :- * ColumnarToRow (1)
:  +- BroadcastExchange (2)
:- ReusedExchange (4)
+- ReusedExchange (6)

(1) ColumnarToRow
Input [1]: [k#1L]

(2) BroadcastExchange
Input [1]: [k#1L]

(3) BroadcastHashJoin
Join type: Inner

(4) ReusedExchange [Reuses operator id: 2]
Output [1]: [k#2L]

(5) Project

(6) ReusedExchange [Reuses operator id: 1]
Output [1]: [k#3L]
"""
    assert audit.reused_broadcast_count(plan) == 1
    # and a plan with no reuse at all counts 0
    assert audit.reused_broadcast_count("== Physical Plan ==\n* Scan parquet (1)\n\n(1) Scan parquet\n") == 0
