"""The plan sweep: gate every registered query's plan and dump the
showcase plans for review.

Usage:
  python scripts/dump_plans.py [sf_dir]
  python scripts/dump_plans.py --tag TAG before|after NAME [NAME ...]

The first form plans every registered query once, in one session, through
``plans/audit.gate`` (BNLJ build sides, SinglePartition exchanges, broadcast
provenance, forced-broadcast hints, condition-less crosses). It writes
GATES.json (per-gate node counts, plan errors, gate fails) and PLANS.md:
the formatted physical plans of the SHOWCASE queries, with the
scale-relevant properties (PushedFilters, ReadSchema, broadcast vs
sort-merge, exchange count) visible for review. A query that fails to
build is a plan error; the run goes on. Exits 1 on any gate fail or plan
error.

The ``--tag`` form snapshots the named queries' plans at
``$SPARK_GRAFT_SF_DIR`` into ``plans/TAG/<name>_<before|after>.txt``,
the before/after pair a plan-changing optimization keeps beside it.
Both forms plan with AQE off, so the static plan is readable, at
local[32] whatever ``SPARK_GRAFT_CPUS`` says, so partition counts read
the same on any host. Both write the plan text with its session
counters normalized (``_normalized``), so a plan reads the same
whichever queries the session planned before it; the gates see the raw
plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from milvus_cdc_spark.catalog import SCRATCH_PREFIX  # noqa: E402

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


HEADER = [
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
    "`audit.KEYED_CROSS_ALLOWED`). `plans/audit.gate` says which verdicts",
    "fail; the same sweep gates every registered query into GATES.json.",
    "",
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
    counts = dict.fromkeys(("bnlj", "sp", "bex", "hints", "crosses"), 0)
    errs: list[tuple[str, str]] = []
    fails: list[dict] = []
    sections: dict[str, str] = {}
    t0 = time.time()
    names = list(suite.QUERIES)
    for i, name in enumerate(names):
        try:
            plan, recs, bad = audit.gate(suite.QUERIES[name].fn(spark, sf_dir), name)
        except Exception as e:  # a query that cannot even plan is a fail
            errs.append((name, repr(e)[:200]))
            spark.catalog.clearCache()
            continue
        for g, rs in recs.items():
            counts[g] += len(rs)
        # fresh + reused broadcasts counted together: reused-vs-fresh is
        # JVM-nondeterministic, only the combined count is reproducible
        counts["bex"] += audit.reused_broadcast_count(plan)
        flat = [r for rs in bad.values() for r in rs]
        if flat:
            fails.append({"query": name, "records": flat})
        if name in SHOWCASE:
            sections[name] = _section(name, plan, recs, bad)
        spark.catalog.clearCache()
        if (i + 1) % 50 == 0:
            print(f"{i + 1}/{len(names)} in {time.time() - t0:.0f}s",
                  file=sys.stderr)
    spark.stop()
    summary = {
        "n_queries": len(names),
        "n_planned": len(names) - len(errs),
        "node_counts": counts,
        "plan_errors": errs,
        "gate_fails": fails,
    }
    with open(os.path.join(ROOT, "GATES.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True, default=str)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(HEADER + [sections[n] for n in SHOWCASE if n in sections]))
    print(json.dumps({k: v for k, v in summary.items() if k != "gate_fails"},
                     default=str))
    print(f"wrote GATES.json and PLANS.md ({len(sections)} plans) in "
          f"{time.time() - t0:.0f}s")
    for name, err in errs:
        print(f"plan error in {name}: {err}", file=sys.stderr)
    for rec in fails:
        print(f"gate fail in {rec['query']}: {rec['records']}", file=sys.stderr)
    if fails or errs:
        sys.exit(1)


# Session counters in plan text: expression ids and exchange plan ids
# are renumbered per plan in first-appearance order (column tracing
# stays readable); lambda-variable suffixes, RDD ids and the JVM
# call-site frame of a localCheckpoint (``NativeMethodAccessorImpl.java:0``
# until reflection inflates, ``<unknown>:0`` after) are dropped, and the
# process's scratch root (``catalog.scratch_dir``, ``catalog.staged``:
# names under it are deterministic) reads ``<scratch>``.
_RENUMBERED = re.compile(r"(#|plan_id=)(\d+)")
_DROPPED = [
    (re.compile(re.escape(os.path.join(tempfile.gettempdir(), SCRATCH_PREFIX))
                + r"\w{8}"), "<scratch>"),
    (re.compile(r"\blambda ([xyz])_\d+\b"), r"lambda \1"),
    (re.compile(r"RDD\[\d+\]"), "RDD"),
    (re.compile(r" at (?:NativeMethodAccessorImpl\.java|<unknown>):0\b"), ""),
]


def _normalized(plan: str) -> str:
    for pat, repl in _DROPPED:
        plan = pat.sub(repl, plan)
    ids: dict[str, dict[str, int]] = {"#": {}, "plan_id=": {}}

    def renumber(m: re.Match) -> str:
        kind, n = m.groups()
        return f"{kind}{ids[kind].setdefault(n, len(ids[kind]) + 1)}"

    return _RENUMBERED.sub(renumber, plan)


def _section(name: str, plan: str, recs: dict, bad: dict) -> str:
    """One PLANS.md section: the stamp line and the plan's operator tree
    and scan details (the verbose subquery footer dropped)."""
    from milvus_cdc_spark.plans import audit

    def classes(rs):
        return dict(Counter(r["verdict"].replace("_sized", "") for r in rs))

    stamp = (
        f"exchanges={audit.count_exchanges(plan)} "
        f"broadcast_joins={audit.count_broadcast_joins(plan)} "
        f"bnlj={len(recs['bnlj'])} "
        f"bnlj_bounded={len(recs['bnlj']) - len(bad['bnlj'])} "
        f"sp={len(recs['sp'])} sp_benign={len(recs['sp']) - len(bad['sp'])} "
        f"bex={len(recs['bex'])} bex_classes={classes(recs['bex'])} "
        f"hints={len(recs['hints'])} "
        f"hints_bounded={len(recs['hints']) - len(bad['hints'])} "
        f"hint_classes={classes(recs['hints'])} "
        f"crosses={len(recs['crosses'])} "
        f"cross_classes={classes(recs['crosses'])}"
    )
    lines = plan.splitlines()
    cut = next(
        (i for i, line in enumerate(lines) if line.startswith("===== Subqueries")),
        len(lines),
    )
    body = _normalized("\n".join(lines[:cut]).rstrip())
    return f"## {name}\n\n{stamp}\n\n```\n{body}\n```\n"


#: The parallelism PLANS.md and GATES.json are planned at (local[32], 32
#: shuffle partitions): exchange and repartition counts follow it, so the
#: sweep fixes it rather than take the host's ``SPARK_GRAFT_CPUS``.
PLAN_CPUS = "32"


def _session():
    from milvus_cdc_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = PLAN_CPUS
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
            f.write(_normalized(plan))
        print(
            f"{name}: exchanges={audit.count_exchanges(plan)} "
            f"broadcast_joins={audit.count_broadcast_joins(plan)} -> {path}"
        )
    spark.stop()

if __name__ == "__main__":
    main()
