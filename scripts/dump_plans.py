"""Regenerate PLANS.md: formatted physical plans of representative
queries with the scale-relevant properties (PushedFilters, ReadSchema,
broadcast vs sort-merge, exchange count) visible for review.

Usage:
  python scripts/dump_plans.py [sf_dir]
  python scripts/dump_plans.py --tag TAG before|after NAME [NAME ...]

The ``--tag`` form snapshots the named queries' plans at
``$SPARK_GRAFT_SF_DIR`` into ``plans/TAG/<name>_<before|after>.txt``,
the before/after pair a plan-changing optimization keeps beside it.
Both forms plan with AQE off, so the static plan is readable.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOWCASE = [
    "q1_pricing_summary",
    "cdc_replay_summary",
    "tpch_q3_shipping",
    "disjunctive_filter_revenue",
    "exists_late_orders",
    "scalar_subquery_small_qty",
    "near_dup_pairs",
    "ivf_topk",
    "bm25_topk",
    "salted_skew_join",
    # round-2 additions
    "tpch_q9_product_profit",
    "timetick_heartbeat",
    "filtered_ann_topk",
    "sq8_quantized_recall",
    # round-2b additions
    "l2_search_topk",
    "consistency_levels_read",
    "text_match_retrieval",
    "phrase_match_retrieval",
    "doc_chunking",
    "sequence_packing",
    "keyset_pagination",
    # round-4 additions
    "ntile_quartiles",
    "db_scoped_remap",
    "winnowing_fingerprints",
    "expr_text_match_filter",
    # round-5 additions
    "vocab_build",
    "channel_msg_counts",
    "grouping_search_group_size",
    "partition_drop_replay",
    "ivf_kmeans_build",
    "analyzer_token_stats",
    # round-5 second-session additions
    "pq_codebooks",
    "pq_adc_recall",
    "banded_cosine_near_dup",
    "ngram_decontamination",
    "temperature_mixing_rates",
    "unigram_logprob_quality",
    "ivf_pq_recall",
    "phrase_match_slop",
    "quality_filter_funnel",
    "bpe_pretoken_stats",
    "search_iterator_page",
    "decay_reranked_search",
    "superstructure_search",
    "fulltext_drop_ratio",
    "session_consistency_read",
    # round-5 third-session additions
    "semdedup_prune",
    "dsir_importance_selection",
    "duplicate_span_coverage",
    "bigram_lm_quality",
    "random_sample_filter",
    # round-5 fourth-session additions
    "corpus_line_dedup",
    "tfidf_keywords",
    "domain_mixture_weights",
    "ccnet_perplexity_buckets",
    "hard_negative_mining",
    "zorder_layout_pruning",
    "pk_get_by_ids",
    "maxscore_pruned_search",
    "more_like_this",
    "kmeans_silhouette",
    "geo_point_filters",
    "geo_fenced_ann",
    "dedup_savings_report",
    "embedding_covariance_block",
    # round-5 fifth-session additions
    "pagerank_trade_graph",
    "knn_label_accuracy",
    "hll_distinct_users",
    "pca_power_iteration",
    "weighted_doc_sample",
    "quality_quantile_normalize",
    "compaction_bin_packing",
    "pmi_collocations",
    "kcore_prune_rounds",
    # round-5 sixth-session additions
    "roc_auc_quality",
    "triangle_parts_topk",
    "boilerplate_line_stats",
    "ndcg_search_eval",
    "ks_drift_test",
    "score_decile_lift",
    "hll_union_sources",
    "event_transition_matrix",
    "setsim_prefix_join",
    "hamming_banded_join",
    "grouped_auc_by_source",
    "int8_ip_search_topk",
    "delete_by_expr_replay",
    "scd2_asof_enrich",
    "label_propagation_communities",
    "maxsim_multivector_topk",
    "langid_precision_recall",
    "copurchase_lift_topk",
    "quality_canonical_selection",
    "containment_quote_detection",
    "context_length_histogram",
    "quantile_sketch_merge",
    "rolling_active_users",
    "seasonal_forecast_error",
    "maxsim_ann_rerank",
    "vocab_coverage_curve",
    "length_lorenz_points",
    "cluster_density_report",
    # round-12 additions
    "lexical_diversity_ttr",
    "token_burstiness_topk",
    # round-13 additions
    "blocklist_filter_stats",
    # round-14 additions
    "paragraph_near_dup",
]


def main() -> None:
    if sys.argv[1:2] == ["--tag"]:
        if len(sys.argv) < 5 or sys.argv[3] not in ("before", "after"):
            sys.exit(__doc__)
        dump_tagged(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from milvus_cdc_spark import suite
    from milvus_cdc_spark.plans import audit

    spark = _session()

    out = [
        "# PLANS — physical plans of representative queries",
        "",
        "Auto-generated by `scripts/dump_plans.py` (AQE off for readability).",
        "Review targets: filters in `PushedFilters`, pruned `ReadSchema`,",
        "broadcast joins on dims, bounded exchange counts, every",
        "BroadcastNestedLoopJoin build side classified bounded by",
        "`plans/audit.bnlj_build_audit`, every SinglePartition exchange",
        "classified benign by `plans/audit.single_partition_audit`, every",
        "BroadcastExchange classified by provenance",
        "(`plans/audit.broadcast_provenance_audit`: catalog/k/query/dim/",
        "planner — planner = size-estimate threshold choice, AQE-demoted at",
        "scale), every EXPLICIT broadcast hint in the optimized logical",
        "plan classified bounded by `plans/audit.broadcast_hint_audit`",
        "(`dim_hinted` = hinted RAW dim scan, non-failing but surfaced for",
        "review — AQE cannot demote a hint), and every condition-less cross",
        "classified by `plans/audit.cartesian_audit` (keyed-aggregate builds",
        "multiplying an unbounded stream fail unless reviewed into",
        "`audit.KEYED_CROSS_ALLOWED`; the dump FAILS on a data-sized",
        "instance of any failing class).",
        "",
    ]
    violations: list[tuple[str, list]] = []
    for name in SHOWCASE:
        spec = suite.QUERIES.get(name)
        if spec is None:
            continue
        df = spec.fn(spark, sf_dir)
        plan = audit.formatted_plan(df)
        # BNLJ build-side audit (round-9 verdict #5): a reshape that
        # accidentally broadcasts a data-sized frame fails the dump
        # (and the PLANS.md-artifact test) instead of a bench.
        recs = audit.bnlj_build_audit(plan)
        bad = [r for r in recs if r["verdict"] != "bounded"]
        if bad:
            violations.append((name, bad))
        # SinglePartition gate (round-10 session-2): a reshape that
        # funnels a data-sized frame through one task (a global window
        # over an empty partitionBy is the canonical accident) fails the
        # dump instead of a 100 TB run.
        sp = audit.single_partition_audit(plan)
        sp_bad = [r for r in sp if r["verdict"] != "benign"]
        if sp_bad:
            violations.append((name, sp_bad))
        # Broadcast provenance (round-10 verdict #6): every broadcast
        # build side classified by what bounds it; the forced-hint gate
        # reads the optimized LOGICAL plan (the only layer where an
        # F.broadcast() hint is visible) and fails the dump on a hint
        # pinning a data-sized side — the one broadcast class AQE can't
        # self-correct at 100 TB.
        bex = audit.broadcast_provenance_audit(plan)
        bex_counts: dict[str, int] = {}
        for r in bex:
            key = r["verdict"].replace("_sized", "")
            bex_counts[key] = bex_counts.get(key, 0) + 1
        hints = audit.broadcast_hint_audit(audit.optimized_logical_plan(df))
        hint_bad = [r for r in hints if r["verdict"] == "data_sized"]
        if hint_bad:
            violations.append((name, hint_bad))
        hint_counts: dict[str, int] = {}
        for r in hints:
            key = r["verdict"].replace("_sized", "")
            hint_counts[key] = hint_counts.get(key, 0) + 1
        # Condition-less cross gate (round-11 verdict #4): a keyed-
        # aggregate build multiplying an unbounded stream (the langid
        # classes.crossJoin accident) fails the dump unless the query
        # is reviewed into audit.KEYED_CROSS_ALLOWED; a raw cartesian
        # with an evidence-free side always fails.
        crosses = audit.cartesian_audit(plan)
        cross_counts: dict[str, int] = {}
        for r in crosses:
            cross_counts[r["verdict"]] = cross_counts.get(r["verdict"], 0) + 1
        cross_failing = {"unbounded"} | (
            set() if name in audit.KEYED_CROSS_ALLOWED else {"keyed_multiplied"}
        )
        cross_bad = [r for r in crosses if r["verdict"] in cross_failing]
        if cross_bad:
            violations.append((name, cross_bad))
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"exchanges={audit.count_exchanges(plan)} "
            f"broadcast_joins={audit.count_broadcast_joins(plan)} "
            f"bnlj={len(recs)} bnlj_bounded={len(recs) - len(bad)} "
            f"sp={len(sp)} sp_benign={len(sp) - len(sp_bad)} "
            f"bex={len(bex)} bex_classes={bex_counts} "
            f"hints={len(hints)} hints_bounded={len(hints) - len(hint_bad)} "
            f"hint_classes={hint_counts} "
            f"crosses={len(crosses)} cross_classes={cross_counts}"
        )
        out.append("")
        out.append("```")
        # keep the operator tree + scan details; drop the verbose footer
        lines = plan.splitlines()
        cut = next(
            (i for i, line in enumerate(lines) if line.startswith("===== Subqueries")),
            len(lines),
        )
        out.append("\n".join(lines[:cut]).rstrip())
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOWCASE)} plans")
    spark.stop()
    if violations:
        for name, bad in violations:
            print(f"data-sized plan violation in {name}: {bad}", file=sys.stderr)
        sys.exit(1)


def _session():
    from milvus_cdc_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE hides the final plan behind AdaptiveSparkPlan pre-execution;
    # disable for a readable static plan (properties are identical)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark


def dump_tagged(tag: str, suffix: str, names: list[str]) -> None:
    from milvus_cdc_spark import suite
    from milvus_cdc_spark.plans import audit

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    out_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    for name in names:
        plan = audit.formatted_plan(suite.QUERIES[name].fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(
            f"{name}: exchanges={audit.count_exchanges(plan)} "
            f"broadcast_joins={audit.count_broadcast_joins(plan)} -> {path}"
        )
    spark.stop()

if __name__ == "__main__":
    main()
