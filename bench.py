"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line as the LAST
line of stdout:

  {"metric": "suite_total_runtime", "value": total_sec, "unit": "sec",
   "sf": ..., "queries": {<the 22 r1 anchors only>},
   "r1_subtotal": ..., ..., "r1_isolated": ...,
   "slowest": {<top-10 query: sec>}, "detail": "BENCH_DETAIL.json"}

Round 5 lesson (VERDICT.md "What's wrong" #1): the full per-query map
grew past the driver's tail-capture window and BENCH_r05.json shipped
with ``"parsed": null`` — the headline number was LOST. The final line
is therefore kept to ~1.5 KB (anchors + subtotals + top-10), and the
full per-query map is written to ``BENCH_DETAIL.json`` at the repo root.

Cross-round comparability (VERDICT.md "What's wrong" #2): the r5 driver
run showed a 1.34x r1-subtotal regression that the builder's clean runs
could not reproduce — suspected shared-VM contention during the long
140-query driver session, but unprovable without isolation. The full run
now FIRST executes ``python bench.py --segment r1`` in a subprocess — a
fresh JVM that runs ONLY the 22 round-1 anchors — and reports that as
``r1_isolated``. That number is immune to suite growth and codegen-cache
pressure, so it is the one to compare round over round.

Each query is warmed at sf0.001 immediately before its timed run (see the
codegen-cache note at the warm-up loop) and caches are cleared between
queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from milvus_cdc_spark import suite  # noqa: E402
from milvus_cdc_spark.session import get_spark  # noqa: E402

#: Queries timed for the headline metric (a representative mix: scan-agg,
#: joins, windows, CDC replay, text/vector ops as they land).
HEADLINE = [
    "q1_pricing_summary",
    "cdc_replay_summary",
    "dim_join_enrich",
    "rank_zip_join",
    "latest_version_dedupe",
    "tumbling_window",
    "session_window_agg",
    "topk_orders",
    "lifetime_asof_apply",
    "dedup_exact",
    "minhash_bands",
    "near_dup_pairs",
    "cosine_topk",
    "ann_bucketed_topk",
    "text_quality",
    "multimodal_features",
    # relational-extension + LLM-pipeline additions (locked in round 1 so
    # later rounds stay comparable)
    "exists_late_orders",
    "returned_items_topk",
    "window_moving_avg",
    "bm25_topk",
    "corpus_pipeline",
    "salted_skew_join",
]

#: Round-2 additions (kept separate so the r1 22-query subtotal stays
#: directly comparable across rounds — reported as ``r1_subtotal``).
HEADLINE_R2 = [
    "tpch_q9_product_profit",
    "tpch_q16_supplier_parts",
    "timetick_heartbeat",
    "ivf_topk",
    "hamming_topk",
    "sparse_topk",
    "simhash_fingerprints",
    # round-2b: metric-type search, read-semantics, full-text match
    "l2_search_topk",
    "jaccard_binary_topk",
    "consistency_levels_read",
    "text_match_retrieval",
    "phrase_match_retrieval",
]

#: Round-4 additions (same rule: the r1/r3 subtotals stay comparable).
HEADLINE_R4 = [
    "ntile_quartiles",           # distributed exact ntile (no global sort)
    "db_scoped_remap",           # per-DB scoping + db-wildcard remap
    "winnowing_fingerprints",    # rolling-hash fingerprint selection
    "binary_quantized_recall",   # 1-bit quantization recall
    "expr_text_match_filter",    # compiled TEXT/PHRASE_MATCH predicates
]

#: Round-5 additions (alphabetized; the r1/r3/r4 subtotals stay comparable).
HEADLINE_R5 = [
    "channel_msg_counts",        # msg_count tool surface
    "ivf_kmeans_build",          # deterministic Lloyd k-means (IVF build)
    "near_dup_clusters",         # connected-components clustering
    "partition_drop_replay",     # bulk-drop replay semantics
    "sequence_packing",          # shard-partitioned greedy packing
    "vocab_build",               # distributed token-id ranking
]

#: Round-5 second-session additions (alphabetized; earlier subtotals
#: stay comparable — r5_subtotal covers everything up to HEADLINE_R5).
HEADLINE_R5B = [
    "banded_cosine_near_dup",    # sign-band LSH + cosine verify
    "bpe_pretoken_stats",        # GPT-2 pre-tokenizer counting
    "gopher_repetition_flags",   # n-gram repetition filter signals
    "ivf_pq_recall",             # composite IVF_PQ probe + ADC
    "ngram_decontamination",     # train/eval n-gram overlap
    "phrase_match_slop",         # sloppy phrase match (Lucene moves)
    "pii_redaction_stats",       # regex PII scrubbing
    "pq_adc_recall",             # PQ train + encode + ADC search
    "quality_filter_funnel",     # composite quality filter funnel
    "temperature_mixing_rates",  # multinomial temperature sampling
    "unigram_logprob_quality",   # unigram-LM avg NLL scoring
]

#: Round-5 third-batch additions (alphabetized; r5b_subtotal keeps the
#: earlier sets comparable).
HEADLINE_R5C = [
    "clustering_compaction_stats",  # zone-map pruning stats
    "cohort_retention",             # weekly cohort retention
    "dataset_card_summary",         # per-source data card
    "decay_reranked_search",        # 2.6 decay ranker
    "event_funnel_conversion",      # ordered funnel
    "fulltext_drop_ratio",          # sparse drop_ratio_search
    "mmr_diversified_search",       # MMR diversification
    "search_iterator_page",         # keyset iterator page
    "session_consistency_read",     # Session consistency level
    "superstructure_search",        # containment metric search
]

#: Round-5 fourth-batch additions (alphabetized; r5c_subtotal keeps the
#: earlier sets comparable).
HEADLINE_R5D = [
    "bigram_lm_quality",            # interpolated bigram LM NLL
    "bpe_merge_training",           # iterative BPE merge argmax
    "dsir_importance_selection",    # hashed n-gram importance weights
    "duplicate_span_coverage",      # exact-substring dup coverage
    "random_sample_filter",         # RANDOM_SAMPLE expr gate
    "semdedup_prune",               # k-means + within-cluster cosine
]

#: Round-5 fifth-batch additions (alphabetized; r5d_subtotal keeps the
#: earlier sets comparable).
HEADLINE_R5E = [
    "ccnet_perplexity_buckets",     # LM-difficulty terciles (distributed ntile)
    "corpus_line_dedup",            # C4 line-level dedup over pseudo-lines
    "domain_mixture_weights",       # DoReMi-lite domain reweighting
    "hard_negative_mining",         # contrastive hard negatives
    "tfidf_keywords",               # per-doc top-5 tf-idf terms
    "zorder_layout_pruning",        # Morton layout zone-map pruning
]

#: Round-5 sixth-batch additions (alphabetized; r5e_subtotal keeps the
#: earlier sets comparable).
HEADLINE_R5F = [
    "audio_window_energy",          # PCM int16 window energies (mapInPandas)
    "dataset_split_counts",         # deterministic 80/10/10 split
    "geo_fenced_ann",               # spatial prefilter + cosine rank
    "geo_point_filters",            # WKT roundtrip + polygon ray cast
    "ivf_nprobe_recall_curve",      # nprobe 1/2/4 recall curve
    "kmeans_silhouette",            # per-cluster simplified silhouette
    "maxscore_pruned_search",       # WAND-style two-phase retrieval
    "more_like_this",               # tf-idf keywords -> BM25 MLT
    "streaming_watermark_finalize", # append-mode emission gating
]

#: Round-5 seventh-batch additions (alphabetized).
HEADLINE_R5G = [
    "chi2_token_source",            # chi2 feature selection
    "dedup_savings_report",         # clusters -> corpus byte savings
    "embedding_covariance_block",   # exact integer covariance (PCA prep)
    "full_datatype_roundtrip",      # every field type through the envelope
    "mlm_masking_plan",             # deterministic 15% MLM mask plan
    "preference_pair_builder",      # DPO best-vs-worst pairs
    "psi_length_drift",             # PSI drift monitor
]

#: Round-5 eighth-batch additions (alphabetized).
HEADLINE_R5H = [
    "compaction_bin_packing",       # segment merge planning
    "ewma_event_rate",              # integer-weight EWMA monitor
    "histogram_quantile_sketch",    # mergeable 256-bucket quantiles
    "interval_bucket_join",         # bucketed range-join rewrite
    "hll_distinct_users",           # HyperLogLog m=64 register sketch
    "kcore_prune_rounds",           # iterative degree pruning
    "knn_label_accuracy",           # leave-one-out 5-NN class accuracy
    "pearson_quality_length",       # exact-integer-moment Pearson r
    "pmi_collocations",             # integer-PMI phrase mining
    "source_overlap_matrix",        # cross-source shingle Jaccard
    "pagerank_trade_graph",         # 3-iteration integer PageRank
    "pca_power_iteration",          # distributed covariance + power method
    "quality_quantile_normalize",   # per-source -> global quantile map
    "weighted_doc_sample",          # PPS priority sampling
]

#: Round-5 ninth-batch additions (registration order; order only affects
#: bench run order).
HEADLINE_R5I = [
    "benford_first_digit",          # first-digit data-quality audit
    "boilerplate_line_stats",       # per-source site-chrome lines
    "cluster_density_report",       # chain-link over-merge audit
    "containment_quote_detection",  # asymmetric containment join
    "context_length_histogram",     # seq-len planning report
    "copurchase_lift_topk",         # market-basket lift rules
    "delete_by_expr_replay",        # compiled expr-delete ops in replay
    "event_path_trigrams",          # 3-step behavior sequences
    "event_transition_matrix",      # per-user Markov chain
    "grouped_auc_by_source",        # per-group rank statistics
    "hamming_banded_join",          # pigeonhole exact Hamming join
    "hll_union_sources",            # grouped HLL + lossless union-merge
    "int8_ip_search_topk",          # exact integer int8 IP ranking
    "ks_drift_test",                # exact two-sample KS statistic
    "label_propagation_communities",  # sync LPA community detection
    "langid_precision_recall",      # per-class P/R/F1 eval
    "length_lorenz_points",         # token-concentration curve
    "maxsim_ann_rerank",            # two-phase MaxSim (bucket + rerank)
    "maxsim_multivector_topk",      # ColBERT MaxSim late interaction
    "ndcg_search_eval",             # graded ANN quality vs exact
    "quality_canonical_selection",  # keep-longest per near-dup cluster
    "quantile_sketch_merge",        # additive histogram rollup
    "rolling_active_users",         # 7-day HLL sliding merge
    "seasonal_forecast_error",      # MASE-lite seasonality check
    "roc_auc_quality",              # tie-aware Mann-Whitney AUC
    "scd2_asof_enrich",             # union-sort as-of dimension join
    "score_decile_lift",            # exact-decile gain chart
    "setsim_prefix_join",           # exact Jaccard join, prefix filter
    "source_dedup_matrix",          # source-pair dup concentration
    "triangle_parts_topk",          # degree-oriented triangle counting
    "vocab_coverage_curve",         # tokenizer-budget coverage curve
    "label_centroid_distances",     # class-geometry distance matrix
]


#: Cumulative segment definitions, in suite order. Each round's subtotal is
#: the sum over its own set PLUS every earlier set, so cross-round numbers
#: stay comparable as the suite grows (compare r1_subtotal to r1_subtotal,
#: never to a later total).
SEGMENTS: list[tuple[str, list[str]]] = [
    ("r1", HEADLINE),
    ("r3", HEADLINE_R2),
    ("r4", HEADLINE_R4),
    ("r5", HEADLINE_R5),
    ("r5b", HEADLINE_R5B),
    ("r5c", HEADLINE_R5C),
    ("r5d", HEADLINE_R5D),
    ("r5e", HEADLINE_R5E),
    ("r5f", HEADLINE_R5F),
    ("r5g", HEADLINE_R5G),
    ("r5h", HEADLINE_R5H),
    ("r5i", HEADLINE_R5I),
]

#: The suite's perennial top-10-slowest members (r5-era heavy hitters):
#: iterative/composite shapes whose in-suite timings swing up to 2x with
#: shared-VM load. NOT part of the cumulative subtotals (each already
#: belongs to its own round segment above) — this is a second ISOLATED
#: anchor (``heavy_isolated``, fresh JVM, nothing else run) so both of the
#: most expensive families carry a suite-growth-immune cross-round number.
HEADLINE_HEAVY = [
    "bpe_merge_training",           # per-merge-iteration aggregates
    "cluster_density_report",       # near-dup pipeline + components
    "dedup_savings_report",         # near-dup pipeline + components
    "hamming_banded_join",          # pigeonhole band equi-join
    "maxsim_ann_rerank",            # two-phase MaxSim (bucket + rerank)
    "near_dup_clusters",            # MinHash-LSH + connected components
    "quality_canonical_selection",  # keep-longest per near-dup cluster
    "setsim_prefix_join",           # AllPairs prefix-filtered Jaccard
]

#: Queries whose r7 in-suite driver timings diverged 3-8x from every
#: fresh-JVM measurement (ivf_pq_recall: 14.5 s in-suite vs 3.4-4.3 s
#: isolated across three independent sessions) — pure shared-VM noise on
#: a 251-query session, but expensive to re-diagnose each round. This
#: third isolated anchor (``noisy_isolated``) pins their fresh-JVM number
#: in every BENCH_r{N} so an in-suite phantom is recognizable on sight.
HEADLINE_NOISY = [
    "ivf_pq_recall",                # IVF_PQ build + probe-pruned ADC
    "banded_cosine_near_dup",       # banded sign-LSH + exact verify
    "partition_drop_replay",        # bulk-drop CDC replay
    "streaming_watermark_finalize", # watermark-closed window finalize
]

#: Isolated-only segments: runnable via ``--segment``, excluded from the
#: full run's query list and subtotals (their members already live in the
#: cumulative SEGMENTS).
ISOLATED_SEGMENTS: list[tuple[str, list[str]]] = [
    ("heavy", HEADLINE_HEAVY),
    ("noisy", HEADLINE_NOISY),
]

# ---------------------------------------------------------------------------
# Bench coverage rotation (round-11 verdict #5): the cumulative segments
# time 140 of the 252 registered queries; the other ~112 never had a
# recorded timing, so a perf regression there was invisible. ``--segment
# bcov`` times a deterministic alphabetical window of the UNTIMED set in
# its own fresh JVM (spawned by the full run like the other isolated
# segments); BCOV_ROUND_OFFSET advances by BCOV_WINDOW each round (a
# one-edit rotation, same discipline as suite.PRIORITY) so every untimed
# query gets a first-ever timing within ceil(112/38) = 3 rounds. The
# results land in BENCH_DETAIL.json (``bcov_queries``) and the machine
# line carries only the segment total — timings of this window are
# COVERAGE, not cross-round anchors (the window moves every round).
# ---------------------------------------------------------------------------

#: Weather reference chain (r15 verdict #2): the r13 seal is the last
#: calm ground-truth draw (BENCH_r13.json: canary_sec 0.357, canary2_sec
#: 0.793, total 123.4 s). Every bench line now carries (a)
#: ``canary_flagged`` — true when either canary of the suite JVM runs
#: >30% over this reference, the r13-established contamination gate —
#: and (b) ``value_canary_norm`` — the total divided by the canary2
#: ratio, i.e. what the same run would read at reference VM speed.
#: BOTH are advisory: ``value`` stays the raw honest account; the
#: normalized number exists so a judge comparing rounds across different
#: weather has a machine-readable correction instead of re-deriving it
#: from the canaries by hand (BENCH_NORMALIZED.md has the method and its
#: calibration limits).
CANARY_REF = 0.357
CANARY2_REF = 0.793
#: Contamination gate: canary ratio above this flags the draw.
CANARY_FLAG_RATIO = 1.3

#: Absolute stall-redraw floor (r15 verdict #2): the ref-based redraw
#: rule (3x prior seal) cannot cover the bcov segment — its window moves
#: every round, so first-ever timings have no reference — and r14's
#: driver draw shipped an unredrawed 81 s streaming_positions stall.
#: No query in any sealed round exceeds ~7.5 s at sf0.1, so a draw past
#: 15 s in ANY segment is redrawn once regardless of reference; the
#: first draw stays in the totals (honest account), both land in
#: ``redraws``.
REDRAW_ABS_SEC = 15.0


def _canary_flagged(canary: float | None, canary2: float | None) -> bool:
    """True when this JVM's weather canaries exceed the contamination
    gate vs the r13 reference chain (either canary >30% slow)."""
    return bool(
        (canary and canary / CANARY_REF > CANARY_FLAG_RATIO)
        or (canary2 and canary2 / CANARY2_REF > CANARY_FLAG_RATIO)
    )


def _canary_norm(value: float, canary2: float | None) -> float | None:
    """``value`` corrected to reference VM speed via the canary2 ratio
    (canary2 is the parallel-stage probe — the one that tracks segment
    bodies; see BENCH_NORMALIZED.md). None when the canary is missing."""
    if not canary2:
        return None
    return round(value * CANARY2_REF / canary2, 3)


#: Window size: a full pass over a FIXED untimed set takes
#: ceil(116/39) = 3 rounds; the contract test derives the round count
#: and fails if the registry outgrows 3 x BCOV_WINDOW. Mid-cycle
#: registrations shift the alphabetical ring under the moving offset,
#: so a name inserted BELOW the current offset is not reached until
#: the ring wraps back around (r14: paragraph_near_dup at index 72
#: first enters a window at the r16 offset-40 draw; its first sf0.1
#: timings were therefore taken ad hoc and recorded in ROUND_NOTES
#: r14). gcd(39, ring length) has been 1 so far, so every name IS
#: eventually drawn — later than the 3-round pass, never never.
BCOV_WINDOW = 39
#: r12 starts the rotation at the alphabetical front; r13 -> 39,
#: r14 -> 78, r15 -> 117, r16 -> 156. The ring has 116 untimed names,
#: so the first full pass completed with r14 (offsets 0/39/78 cover
#: indices 0..115 plus the wrap) and 117 ≡ 1 began the second pass —
#: every window from there on is a RE-timing, giving the moving-window
#: coverage its same-name cross-cycle comparisons.
BCOV_ROUND_OFFSET = 156


def _bcov_names() -> list[str]:
    """The current round's coverage window: registered queries outside
    every timed segment, alphabetical, rotated by BCOV_ROUND_OFFSET
    (wrapping; never repeats a name within one window)."""
    timed = {
        n for _, names in SEGMENTS + ISOLATED_SEGMENTS for n in names
    }
    untimed = sorted(n for n in suite.QUERIES if n not in timed)
    if not untimed:
        return []
    off = BCOV_ROUND_OFFSET % len(untimed)
    window = (untimed + untimed)[off : off + BCOV_WINDOW]
    return window[: len(untimed)]


def run_queries(
    spark,
    names: list[str],
    sf_dir: str,
    ref: dict[str, float] | None = None,
    redraws: dict[str, list[float]] | None = None,
) -> dict[str, float]:
    """Time each query (count() as the action), warm + cache-clear per query.

    Warm-up is PER QUERY, immediately before its timed run — not one
    pass over the whole suite up front. Spark's generated-code cache
    (spark.sql.codegen.cache.maxEntries, default 100 classes) is far
    smaller than this suite's stage count, so a bulk warm-up phase
    evicts the first queries' compiled stages before they are ever
    timed — measured as a 1.5-2x inflation of the earliest subtotal
    once the suite passed ~70 queries. Interleaving keeps each query's
    codegen hot at its own measurement regardless of suite size. Plan
    shapes are identical across scale factors, so the sf0.001 warm-up
    compiles exactly the stages the sf0.1 run executes. The warm-up dir
    is the ``sf0.001`` sibling of ``sf_dir``; when it is missing the
    skip is announced on stderr.

    Caches are cleared between queries: several pipelines persist an
    intermediate shared across their stages (shingles, posting lists)
    whose lifetime is the query, not the session — without the clear,
    a 70+-query session accumulates orphaned cached frames and later
    timings ride earlier caches.

    Stall redraws (round-11 verdict #3): the r11 driver run drew 13.4 s
    on a query the same tree seals at 0.43 s, while the canary triplet
    proved the JVM body was fast — a sporadic per-task stall neither a
    canary nor an isolated anchor can attribute. When ``ref`` (the prior
    round's sealed BENCH_DETAIL per-query map at the same sf) is given
    and a draw exceeds 3x its reference (and +1 s absolute, so sub-second
    jitter never triggers), the query is re-timed ONCE in the same JVM;
    ``timings`` keeps the first draw (the total stays an honest account
    of the session) and both draws land in ``redraws`` — a stalled draw
    is then recognizable on sight instead of polluting round-over-round
    comparison.
    """
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    do_warm = os.path.isdir(warm_dir) and warm_dir != sf_dir.rstrip("/")
    if not os.path.isdir(warm_dir):
        print(f"warm-up skipped: {warm_dir} missing", file=sys.stderr)
    timings: dict[str, float] = {}
    for name in names:
        spec = suite.QUERIES.get(name)
        if spec is None:
            continue
        if do_warm:
            try:
                spec.fn(spark, warm_dir).count()
            except Exception as e:  # warm-up only — but never silently
                print(f"warm-up failed for {name}: {e!r}", file=sys.stderr)
            spark.catalog.clearCache()
        t0 = time.time()
        df = spec.fn(spark, sf_dir)
        df.count()
        t = round(time.time() - t0, 3)
        timings[name] = t
        spark.catalog.clearCache()
        ref_t = (ref or {}).get(name)
        stalled = bool(ref_t and t > 3 * ref_t and t - ref_t > 1.0)
        # absolute rule (r15): no sealed query exceeds ~7.5 s at sf0.1,
        # so a 15 s+ draw is a stall even without a reference — this is
        # what lets the moving bcov window (first-ever timings, no ref)
        # catch its own mega-stalls
        stalled = stalled or t > REDRAW_ABS_SEC
        if redraws is not None and stalled:
            # The redraw is an auxiliary measurement: never let a
            # transient redraw error kill the whole bench session — a
            # failed redraw just drops the redraws entry (r13 ADVICE).
            try:
                t1 = time.time()
                spec.fn(spark, sf_dir).count()
                t2 = round(time.time() - t1, 3)
                redraws[name] = [t, t2]
            except Exception as e:
                print(f"redraw failed for {name}: {e!r}", file=sys.stderr)
            spark.catalog.clearCache()
    return timings


def _canary(spark, sf_dir: str | None, name: str, n: int) -> float | None:
    """VM-speed canary: median of ``n`` timed runs of the frozen query
    ``name`` at a FIXED scale factor (sf0.01), executed right after JVM
    warm-up in every bench session (each segment JVM and the full-suite
    JVM). Two canaries run: q1_pricing_summary x5 (``canary_sec``) and
    cosine_topk x3 (``canary2_sec``).

    Purpose: cross-round bench comparisons kept tripping over whole-VM
    speed drift (r8: a uniform ~1.16x inflation across 22 untouched
    anchor queries had to be argued away via a median-of-untouched
    analysis). A fixed query whose code never changes gives a
    mechanical normalizer: divide any segment number by the ratio of its
    JVM's canary to a prior round's canary. Median of 5 for q1 (3
    through r9; widened per the r9 verdict — the ±20% noise floor of 3
    samples was close to the drift it measures) absorbs one-time
    codegen/footer costs.

    Why a second canary (r12): the q1 canary is a 0.4-0.6 s scan-agg
    whose runtime is dominated by fixed per-query overheads, so it
    UNDER-CORRECTS slowdowns of 32-way-parallel compute stages.
    cosine_topk is a round-1 anchor (frozen code), embarrassingly
    parallel (brute-force scorer over every row), and ~4x the q1
    canary's weight — exactly the stage shape the blind spot hides.
    Reading rule: normalize SEGMENT numbers by the cosine_topk ratio;
    q1's ``canary_sec`` remains the cross-round reference chain back to
    r9. Median of 3 there: the probe is ~4x heavier, and its job is
    segment-scale drift, not the q1 chain's tighter floor.

    The canary dir is the ``sf0.01`` SIBLING of the bench's data root
    (``sf_dir``) so the canary follows the data tree on any machine,
    falling back to the canonical testdata path. A skip is announced on
    stderr, and a run that fails returns None rather than costing the
    machine line."""
    candidates = []
    if sf_dir:
        candidates.append(os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01"))
    candidates.append("/root/testdata/sf0.01")
    canary_dir = next((d for d in candidates if os.path.isdir(d)), None)
    spec = suite.QUERIES.get(name)
    if spec is None or canary_dir is None:
        print(f"canary {name} skipped: query or sf0.01 dir missing "
              f"(looked in {candidates})", file=sys.stderr)
        return None
    try:
        samples = []
        for _ in range(n):
            t0 = time.time()
            spec.fn(spark, canary_dir).count()
            samples.append(time.time() - t0)
            spark.catalog.clearCache()
        return round(sorted(samples)[n // 2], 3)
    except Exception as e:  # auxiliary — never break the bench line
        print(f"canary {name} failed: {e!r}", file=sys.stderr)
        return None


def _segment_names(segment: str) -> list[str]:
    if segment == "bcov":
        return _bcov_names()
    for key, names in SEGMENTS + ISOLATED_SEGMENTS:
        if key == segment:
            return list(names)
    raise SystemExit(
        f"unknown segment {segment!r}; "
        f"known: {[k for k, _ in SEGMENTS + ISOLATED_SEGMENTS]} + ['bcov']"
    )


def _parse_sf(sf_dir: str) -> float:
    """Scale factor from a path like ``.../sf0.1``; -1.0 when the path
    carries none (including paths where 'sf' appears mid-word, which
    would otherwise raise on float())."""
    if "sf" not in sf_dir:
        return -1.0
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return -1.0


def run_segment_mode(
    segment: str, sf_dir: str, sf: float, names: list[str] | None = None
) -> None:
    """Fresh-session single-segment run (``bench.py --segment r1``).

    Prints one compact JSON line. Used directly for anchor-regression
    bisection, and spawned by the full run to produce ``r1_isolated`` —
    an anchor number measured in a fresh JVM with nothing else in the
    session, immune to suite growth. ``names`` (``bench.py --segment
    LABEL NAME,...``) overrides the segment's query list while keeping
    the identical output contract — an ad-hoc name list, or a second draw
    of a previous round's bcov window by its recorded names.
    """
    spark = get_spark(f"bench-{segment}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    canary = _canary(spark, sf_dir, "q1_pricing_summary", 5)
    canary2 = _canary(spark, sf_dir, "cosine_topk", 3)
    redraws: dict[str, list[float]] = {}
    timings = run_queries(
        spark,
        names if names is not None else _segment_names(segment),
        sf_dir,
        redraws=redraws,
    )
    value = round(sum(timings.values()), 3)
    payload = {
        "metric": f"segment_{segment}_runtime",
        "value": value,
        "unit": "sec",
        "sf": sf,
        "canary_sec": canary,
        "canary2_sec": canary2,
        "canary_flagged": _canary_flagged(canary, canary2),
        "value_canary_norm": _canary_norm(value, canary2),
        "queries": timings,
    }
    if redraws:
        payload["redraws"] = redraws
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()


def _isolated_anchor_run(sf_dir: str, segment: str = "r1") -> dict:
    """Run one anchor segment in a fresh subprocess JVM; parse its line.

    Degrades to {} on ANY failure (timeout, spawn error, unparseable
    output): the isolated number is auxiliary — losing it must never cost
    the full run's machine line (the exact failure mode this file's
    compact-output contract exists to prevent)."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--segment", segment],
            capture_output=True, text=True, timeout=1800,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        )
    except (subprocess.TimeoutExpired, OSError) as e:
        print(f"isolated anchor run failed: {e!r}", file=sys.stderr)
        return {}
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    print(f"isolated anchor run unparseable (rc={proc.returncode}): "
          f"{proc.stdout[-300:]!r} {proc.stderr[-300:]!r}", file=sys.stderr)
    return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _parse_sf(sf_dir)

    if len(sys.argv) >= 2 and sys.argv[1] == "--segment":
        if len(sys.argv) < 3:
            raise SystemExit(
                "usage: bench.py --segment <name> [NAME,...]; "
                f"known: {[k for k, _ in SEGMENTS]}"
            )
        names = sys.argv[3].split(",") if len(sys.argv) > 3 else None
        run_segment_mode(sys.argv[2], sf_dir, sf, names)
        return

    # Isolated anchor segments FIRST, each in its own JVM (nothing else has
    # run on that session): the cross-round regression signals — r1 (the
    # original 22 anchors) and heavy (the perennial top-slowest family).
    # Skippable for quick local iteration via SPARK_GRAFT_SKIP_ISOLATED=1.
    isolated: dict = {}
    heavy_iso: dict = {}
    noisy_iso: dict = {}
    bcov_iso: dict = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_ISOLATED"):
        isolated = _isolated_anchor_run(sf_dir)
        heavy_iso = _isolated_anchor_run(sf_dir, "heavy")
        noisy_iso = _isolated_anchor_run(sf_dir, "noisy")
        # coverage rotation (round-11 verdict #5): first-ever timings
        # for this round's window of the never-timed queries
        bcov_iso = _isolated_anchor_run(sf_dir, "bcov")

    # Prior round's sealed per-query map: the stall-redraw reference.
    # Only comparable at the same scale factor.
    ref: dict[str, float] = {}
    ref_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(ref_path) as f:
            prior = json.load(f)
        if prior.get("sf") == sf:
            ref = prior.get("queries", {})
    except (OSError, json.JSONDecodeError):
        pass
    redraws: dict[str, list[float]] = {}

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    canary = _canary(spark, sf_dir, "q1_pricing_summary", 5)
    canary2 = _canary(spark, sf_dir, "cosine_topk", 3)

    # Front, MID, and END canaries in the suite JVM (r10 verdict #2):
    # the 251-query single-JVM session accumulates state (codegen cache
    # churn, GC pressure) that ONE front-of-run canary cannot normalize
    # — r10's driver raw total ran +6% over two fresh-JVM re-runs of the
    # same tree while every isolated segment improved. Three canaries
    # make intra-JVM drift across the ~165 s run measurable: if
    # canary_sec_end/canary_sec diverges, in-suite per-query deltas are
    # session artifacts, not code regressions; compare against the
    # isolated anchors instead.
    half = [n for _, names in SEGMENTS[:7] for n in names]
    rest = [n for _, names in SEGMENTS[7:] for n in names]
    timings = run_queries(spark, half, sf_dir, ref=ref, redraws=redraws)
    canary_mid = _canary(spark, sf_dir, "q1_pricing_summary", 5)
    timings.update(
        run_queries(spark, rest, sf_dir, ref=ref, redraws=redraws)
    )
    canary_end = _canary(spark, sf_dir, "q1_pricing_summary", 5)
    total = round(sum(timings.values()), 3)

    subtotals: dict[str, float] = {}
    cum: list[str] = []
    for key, names in SEGMENTS:
        cum += names
        subtotals[f"{key}_subtotal"] = round(
            sum(timings.get(n, 0.0) for n in cum), 3
        )

    # 8 (was 10): the machine line sat at 3.85 KB of the driver's ~4 KB
    # tail capture before the r8 noisy_isolated keys joined it — the full
    # top-N lives in BENCH_DETAIL.json regardless
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8])

    detail = {
        "metric": "suite_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "canary_sec": canary,
        "canary_sec_mid": canary_mid,
        "canary_sec_end": canary_end,
        "canary_sec_r1_jvm": isolated.get("canary_sec"),
        "canary_sec_heavy_jvm": heavy_iso.get("canary_sec"),
        "canary_sec_noisy_jvm": noisy_iso.get("canary_sec"),
        "canary2_sec": canary2,
        "canary2_sec_r1_jvm": isolated.get("canary2_sec"),
        "canary2_sec_heavy_jvm": heavy_iso.get("canary2_sec"),
        "canary2_sec_noisy_jvm": noisy_iso.get("canary2_sec"),
        "queries": timings,
        **subtotals,
        "r1_isolated": isolated.get("value"),
        "r1_isolated_queries": isolated.get("queries", {}),
        "heavy_isolated": heavy_iso.get("value"),
        "heavy_isolated_queries": heavy_iso.get("queries", {}),
        "noisy_isolated": noisy_iso.get("value"),
        "noisy_isolated_queries": noisy_iso.get("queries", {}),
        "bcov_offset": BCOV_ROUND_OFFSET,
        "bcov_total": bcov_iso.get("value"),
        "bcov_queries": bcov_iso.get("queries", {}),
        "bcov_redraws": bcov_iso.get("redraws", {}),
        "redraws": redraws,
        "canary_flagged": _canary_flagged(canary, canary2),
        "value_canary_norm": _canary_norm(total, canary2),
    }
    # SPARK_GRAFT_DETAIL_PATH redirects the side file: the contract
    # test runs bench.py as a subprocess at sf0.001, and without the
    # override every pytest session silently clobbers the repo-root
    # BENCH_DETAIL.json sealed from the real sf0.1 run.
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # THE machine line — last on stdout, kept compact (~1.5 KB) so the
    # driver's tail capture always parses it (r5 lesson). "queries"
    # carries the 22 r1 anchors only; the full map is in BENCH_DETAIL.json.
    print(json.dumps({
        "metric": "suite_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # VM-speed canary (median-of-5 q1@sf0.01, one per JVM): divide a
        # segment by ITS JVM's canary ratio to normalize whole-VM drift
        # (r8 lesson; method + calibration limits in BENCH_NORMALIZED.md).
        # mid/end re-runs of the same canary in the SAME suite JVM
        # expose intra-session drift over the long run (r10 lesson).
        "canary_sec": canary,
        "canary_sec_mid": canary_mid,
        "canary_sec_end": canary_end,
        "canary_sec_r1_jvm": isolated.get("canary_sec"),
        "canary_sec_heavy_jvm": heavy_iso.get("canary_sec"),
        "canary_sec_noisy_jvm": noisy_iso.get("canary_sec"),
        # parallel-stage canary (r12): median-of-3 cosine_topk@sf0.01
        # per JVM — sees 32-way-parallel stage slowdowns the 0.4 s q1
        # canary under-corrects; normalize SEGMENT deltas by ITS ratio
        # from r13 on (q1 stays the cross-round chain back to r9)
        "canary2_sec": canary2,
        "canary2_sec_r1_jvm": isolated.get("canary2_sec"),
        "canary2_sec_heavy_jvm": heavy_iso.get("canary2_sec"),
        "canary2_sec_noisy_jvm": noisy_iso.get("canary2_sec"),
        # weather verdict for THIS draw (r15 verdict #2): flagged when a
        # suite-JVM canary runs >30% over the r13 reference chain
        # (0.357/0.793); value_canary_norm is the total corrected by the
        # canary2 ratio — advisory, the raw value above stays the record
        "canary_flagged": _canary_flagged(canary, canary2),
        "value_canary_norm": _canary_norm(total, canary2),
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        **subtotals,
        # anchor segments in fresh JVMs before anything else ran — the
        # suite-growth-immune cross-round numbers (r1: compare to 16.59 s
        # r4 / 17.27 s r6; heavy: first recorded r7)
        "r1_isolated": isolated.get("value"),
        "heavy_isolated": heavy_iso.get("value"),
        # fresh-JVM pins for the in-suite-noise-prone queries (r7 lesson:
        # driver in-suite 14.5 s vs 3.4-4.3 s across every isolated run)
        "noisy_isolated": noisy_iso.get("value"),
        "noisy_isolated_queries": noisy_iso.get("queries", {}),
        # coverage rotation: this round's window of never-timed queries
        # (first-ever timings; the window moves each round — coverage,
        # not a cross-round anchor; per-query map in BENCH_DETAIL.json)
        "bcov_offset": BCOV_ROUND_OFFSET,
        "bcov_total": bcov_iso.get("value"),
        # stall redraws (r11 lesson): [first, second] same-JVM draws for
        # any in-suite timing > 3x (and +1 s) its prior-round sealed
        # value — a one-off stall shows a fast second draw; a real
        # regression repeats. Totals keep the first draw. Capped to the
        # 5 worst (by first draw) HERE so a pathological round cannot
        # push the machine line past the driver's ~4 KB tail capture
        # (the r5 lesson); BENCH_DETAIL.json carries the full map.
        # bcov-JVM stall redraws (absolute 15 s rule) merged in so a
        # stalled first-ever timing is visible without the side file
        "redraws": dict(
            sorted(
                {**bcov_iso.get("redraws", {}), **redraws}.items(),
                key=lambda kv: -kv[1][0],
            )[:5]
        ),
        "slowest": slowest,
        "detail": "BENCH_DETAIL.json",
    }, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
