"""Evaluation & graph-structure extensions — the "score the data and
the index, not just build them" surface of a training-data platform:

- exact rank statistics (Mann-Whitney ROC-AUC global + per-group,
  two-sample KS drift, decile lift) on the distributed prefix-sum /
  ntile primitives;
- search-quality grading (NDCG@10, per-class P/R/F1 for lang-ID);
- graph structure (degree-oriented triangle counting, synchronous
  label-propagation communities);
- exact joins beyond equi (prefix-filtered set-similarity, pigeonhole
  Hamming banding, union-sort SCD2 as-of, market-basket lift);
- vector parity (INT8 integer IP search, ColBERT MaxSim late
  interaction);
- corpus hygiene (per-source boilerplate lines) and behavior modeling
  (event Markov transitions, grouped HLL with lossless union-merge);
- CDC parity (delete-by-expression replay through the expr compiler).

Every query follows the repo's portable-math contract: integer units
(ppm / micro), divisions only over non-negative operands so DuckDB ``//``
(floor) and Spark ``DIV`` (truncate) agree, and any transcendental
constant (the NDCG log2 discounts) is computed ONCE in Python and inlined
as the same integer literals into both engines — no cross-engine float
math anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.suite import _SQL_COSINE, _SQL_TOKS, _t, q
from milvus_cdc_spark.catalog import local_frame as _local_frame
from milvus_cdc_spark.operators import windows
from milvus_cdc_spark.suite_mlops import _ssdiv

# ---------------------------------------------------------------------------
# Exact ROC-AUC via the Mann-Whitney U statistic: does document length
# predict English? AUC = P(score_pos > score_neg) + 0.5 P(tie), computed
# WITHOUT the positive x negative pair join (quadratic) and WITHOUT a
# global sort: aggregate to per-distinct-score (pos, neg) counts, then
# the new windows.distributed_prefix_sum gives each score the exact
# count of negatives strictly below it — range shuffle + per-partition
# running sum + driver-side offsets, no Exchange SinglePartition. The
# doubled U statistic stays integer under ties (each tie contributes 1
# instead of 0.5), so the whole computation is exact BIGINT algebra.
# ---------------------------------------------------------------------------


@q(
    "roc_auc_quality",
    """
    WITH per AS (
      SELECT n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS neg
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT pos, neg,
             CAST(coalesce(sum(neg) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS neg_below
      FROM per
    )
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           CAST(sum(2 * pos * neg_below + pos * neg) AS BIGINT) AS u_stat_x2,
           CAST(sum(2 * pos * neg_below + pos * neg) * 1000000
                // (2 * sum(pos) * sum(neg)) AS BIGINT) AS auc_ppm,
           CAST(2 * (sum(2 * pos * neg_below + pos * neg) * 1000000
                     // (2 * sum(pos) * sum(neg))) - 1000000 AS BIGINT)
             AS gini_ppm
    FROM c
    """,
    "eval",
    "auc",
    "rank-statistic",
    "llm",
)
def roc_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (doubled Mann-Whitney U, tie-aware) of ``n_chars``
    as a classifier score for ``lang == 'en'``, in integer ppm."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy(F.col("n_chars").alias("s")).agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("pos"),
        F.sum((F.col("lang") != "en").cast("int")).cast("bigint").alias("neg"),
    )
    cum = windows.distributed_prefix_sum(
        per, [F.col("s")], "neg", out_col="neg_below", inclusive=False
    )
    u2 = F.sum(
        2 * F.col("pos") * F.col("neg_below") + F.col("pos") * F.col("neg")
    )
    out = cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        u2.cast("bigint").alias("u_stat_x2"),
    ).select(
        "n_pos",
        "n_neg",
        "u_stat_x2",
        F.expr("u_stat_x2 * 1000000 DIV (2 * n_pos * n_neg)")
        .cast("bigint")
        .alias("auc_ppm"),
        F.expr("2 * (u_stat_x2 * 1000000 DIV (2 * n_pos * n_neg)) - 1000000")
        .cast("bigint")
        .alias("gini_ppm"),
    )
    return out


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test, exactly: D = max |F_a - F_b|
# over the n_chars distributions of English vs non-English docs. The
# float-free trick: per distinct value, d = cnt_a * n_b - cnt_b * n_a;
# the running sum of d IS (cum_a * n_b - cum_b * n_a) = n_a * n_b *
# (F_a - F_b) — so ONE distributed_prefix_sum call yields the scaled CDF
# gap, and D_ppm = 1e6 * max|cum| // (n_a * n_b) is exact BIGINT
# arithmetic end-to-end. Complements the PSI monitor (psi_length_drift)
# with a distribution-free statistic.
# ---------------------------------------------------------------------------


@q(
    "ks_drift_test",
    """
    WITH tot AS (
      SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_b
      FROM documents
    ),
    per AS (
      SELECT n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS cb
      FROM documents GROUP BY n_chars
    ),
    gap AS (
      SELECT s,
             CAST(sum(ca * (SELECT n_b FROM tot)
                      - cb * (SELECT n_a FROM tot)) OVER (
               ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM per
    ),
    mx AS (SELECT max(abs(cum)) AS d_scaled FROM gap)
    SELECT (SELECT n_a FROM tot) AS n_a,
           (SELECT n_b FROM tot) AS n_b,
           CAST((SELECT d_scaled FROM mx) AS BIGINT) AS d_scaled,
           CAST((SELECT d_scaled FROM mx) * 1000000
                // ((SELECT n_a FROM tot) * (SELECT n_b FROM tot))
                AS BIGINT) AS ks_ppm,
           CAST((SELECT min(s) FROM gap
                 WHERE abs(cum) = (SELECT d_scaled FROM mx)) AS BIGINT)
             AS at_value
    """,
    "eval",
    "drift",
    "ks-test",
    "monitoring",
    "llm",
)
def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic (integer-scaled CDF gap) between
    English and non-English doc-length distributions."""
    docs = _t(spark, sf_dir, "documents")
    tot = docs.agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("lang") != "en").cast("int")).cast("bigint").alias("n_b"),
    )
    per = docs.groupBy(F.col("n_chars").alias("s")).agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("ca"),
        F.sum((F.col("lang") != "en").cast("int")).cast("bigint").alias("cb"),
    )
    # 1-row totals broadcast onto the per-value frame
    d = per.crossJoin(F.broadcast(tot)).select(
        "s",
        "n_a",
        "n_b",
        (F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")).alias("d"),
    )
    gap = windows.distributed_prefix_sum(
        d, [F.col("s")], "d", out_col="cum", inclusive=True
    )
    mx = gap.agg(F.max(F.abs(F.col("cum"))).alias("d_scaled"))
    at = (
        gap.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("cum")) == F.col("d_scaled"))
        .agg(F.min("s").cast("bigint").alias("at_value"))
    )
    out = (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .select(
            "n_a",
            "n_b",
            F.col("d_scaled").cast("bigint").alias("d_scaled"),
            F.expr("d_scaled * 1000000 DIV (n_a * n_b)")
            .cast("bigint")
            .alias("ks_ppm"),
            "at_value",
        )
    )
    return out


# ---------------------------------------------------------------------------
# Decile lift/gain analysis — the standard "is the score worth acting
# on" eval chart: rank docs by score (n_chars desc, doc_id tie-break),
# split into 10 exact global deciles via distributed_ntile (never a
# single-task global sort), and report per-decile positives plus
# cumulative gain in ppm. Lift of decile 1 >> 1e6/10 means the top of
# the ranking is enriched — the curation decision the chart drives.
# ---------------------------------------------------------------------------


@q(
    "score_decile_lift",
    """
    WITH ranked AS (
      SELECT doc_id, n_chars,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
      FROM documents
    ),
    per AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pos) AS BIGINT) AS n_pos
      FROM ranked GROUP BY decile
    ),
    tot AS (SELECT sum(n_pos) AS t FROM per)
    SELECT CAST(decile AS INT) AS decile, n_docs, n_pos,
           CAST(n_pos * 1000000 // n_docs AS BIGINT) AS pos_rate_ppm,
           CAST(sum(n_pos) OVER (
                  ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS cum_gain_ppm
    FROM per
    ORDER BY decile
    """,
    "eval",
    "lift",
    "ranking",
    "llm",
)
def score_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gain chart of doc length as a score for English docs:
    exact global deciles (distributed_ntile), integer-ppm rates."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (-F.col("n_chars")).alias("neg_s"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    tiled = windows.distributed_ntile(
        docs, 10, ["neg_s", "doc_id"], tile_col="decile"
    )
    per = tiled.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("pos").cast("bigint").alias("n_pos"),
    )
    # 10-row frame: the decile-ordered cumulative gain is control-sized,
    # but stay in the distributed pattern anyway (free at this size)
    cum = windows.distributed_prefix_sum(
        per, [F.col("decile")], "n_pos", out_col="cum_pos", inclusive=True
    )
    tot = per.agg(F.sum("n_pos").cast("bigint").alias("t"))
    out = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            "n_pos",
            F.expr("n_pos * 1000000 DIV n_docs")
            .cast("bigint")
            .alias("pos_rate_ppm"),
            F.expr("cum_pos * 1000000 DIV t")
            .cast("bigint")
            .alias("cum_gain_ppm"),
        )
        .orderBy("decile")
    )
    return out


# ---------------------------------------------------------------------------
# Degree-oriented triangle counting (Suri & Vassilvitskii, WWW 2011) over
# the co-purchase graph: parts co-ordered within the same order (with a
# quantity floor to keep the graph sparse-realistic). Top-10 parts by
# triangle participation — the community-density probe. The oracle lists
# triangles the order-free way (p1 < p2 < p3 canonical edges joined
# twice); the Spark side lists them via degree orientation — same set of
# triangles, per-node counts identical, but the oriented wedge space is
# bounded by sum(out_deg^2) with out_deg = O(sqrt(m)) — the shape that
# survives hub nodes at 100 TB.
# ---------------------------------------------------------------------------

_TRI_MIN_QTY = 35


@q(
    "triangle_parts_topk",
    f"""
    WITH f AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_quantity >= {_TRI_MIN_QTY}
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
      FROM f a JOIN f b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    t AS (
      SELECT e1.p1 AS x, e1.p2 AS y, e2.p2 AS z
      FROM e e1
      JOIN e e2 ON e2.p1 = e1.p2
      JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2
    ),
    n AS (SELECT unnest([x, y, z]) AS partkey FROM t)
    SELECT partkey, CAST(count(*) AS BIGINT) AS triangles
    FROM n GROUP BY partkey
    ORDER BY triangles DESC, partkey
    LIMIT 10
    """,
    "graph",
    "triangles",
    "join",
)
def triangle_parts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 parts by triangle count in the co-order graph
    (graph.triangle_counts, degree-oriented wedge join)."""
    from milvus_cdc_spark.analytics import graph

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    pairs = graph.co_group_pairs(li, "l_orderkey", "l_partkey").distinct()
    tri = graph.triangle_counts(pairs, "pa", "pb")
    out = (
        tri.orderBy(F.col("triangles").desc(), F.col("node"))
        .limit(10)
        .select(F.col("node").alias("partkey"), "triangles")
    )
    return out


# ---------------------------------------------------------------------------
# Per-source boilerplate-line detection (CCNet / trafilatura site-chrome
# heuristic): a pseudo-line occurring in >= 3 distinct docs of the same
# source is chrome, not content. Compact-fingerprint shuffles only.
# ---------------------------------------------------------------------------

_BOILER_MIN_DOCS = 3


@q(
    "boilerplate_line_stats",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_SQL_TOKS} AS arr FROM documents
    ),
    lines AS (
      SELECT doc_id, source,
             array_to_string(list_slice(arr, i * 10 + 1, i * 10 + 10), ' ')
               AS line_text
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(arr) / 10.0) AS INT) - 1))
             AS t(i)
      WHERE len(arr) > 0
    ),
    keys AS (
      SELECT doc_id, source, substr(md5(line_text), 1, 16) AS k FROM lines
    ),
    occ AS (
      SELECT source, k, count(DISTINCT doc_id) AS ndocs
      FROM keys GROUP BY source, k
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN ndocs >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           CAST(sum(CASE WHEN ndocs >= {_BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS boiler_ppm,
           CAST(count(DISTINCT CASE WHEN ndocs >= {_BOILER_MIN_DOCS}
                                    THEN k END) AS BIGINT)
             AS distinct_boiler_lines
    FROM keys JOIN occ USING (source, k)
    GROUP BY source
    ORDER BY source
    """,
    "corpus",
    "boilerplate",
    "dedup",
    "llm",
)
def boilerplate_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate accounting over 10-token pseudo-lines
    (corpus.boilerplate_lines)."""
    from milvus_cdc_spark.analytics import corpus

    docs = _t(spark, sf_dir, "documents")
    return corpus.boilerplate_lines(
        docs, width=10, min_docs=_BOILER_MIN_DOCS
    ).orderBy("source")


# ---------------------------------------------------------------------------
# NDCG@10 of the sign-bucketed ANN against exact cosine ranking — the
# graded search-quality metric (recall@k treats rank 1 and rank 10 the
# same; NDCG does not). Graded relevance = 11 - exact_rank for the exact
# top-10, 0 otherwise; positional discounts 1e6/log2(i+1) are computed
# once HERE and inlined as identical integer literals into both engines.
# ---------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_W = [
    int(math.floor(1_000_000 / math.log2(i + 1) + 0.5))
    for i in range(1, _NDCG_K + 1)
]
_NDCG_IDEAL = sum(
    (_NDCG_K + 1 - i) * _NDCG_W[i - 1] for i in range(1, _NDCG_K + 1)
)
_SQL_NDCG_W = ", ".join(
    f"({i}, {w})" for i, w in enumerate(_NDCG_W, start=1)
)


@q(
    "ndcg_search_eval",
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
    exact_k AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM exact_scored
      QUALIFY rank <= {_NDCG_K}
    ),
    approx_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM b c JOIN q ON c.bucket = q.bucket
      WHERE c.vec_id != q.vec_id
    ),
    approx_k AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM approx_scored
      QUALIFY rank <= {_NDCG_K}
    ),
    weights(rank, w) AS (VALUES {_SQL_NDCG_W}),
    gains AS (
      SELECT a.query_id,
             CASE WHEN e.rank IS NULL THEN 0
                  ELSE {_NDCG_K} + 1 - e.rank END AS rel,
             w.w
      FROM approx_k a
      JOIN weights w ON w.rank = a.rank
      LEFT JOIN exact_k e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    )
    SELECT q.vec_id AS query_id,
           CAST(coalesce(sum(g.rel * g.w), 0) AS BIGINT) AS dcg_micro,
           CAST(coalesce(sum(g.rel * g.w), 0) * 1000000
                // {_NDCG_IDEAL} AS BIGINT) AS ndcg_ppm,
           CAST(coalesce(sum(CASE WHEN g.rel > 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS hits
    FROM q LEFT JOIN gains g ON g.query_id = q.vec_id
    GROUP BY q.vec_id
    ORDER BY query_id
    """,
    "eval",
    "vector",
    "ndcg",
    "search-quality",
    "llm",
)
def ndcg_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@10 of sign-bucketed ANN vs exact cosine ranking,
    integer micro-unit discounts shared literal-for-literal with the
    oracle."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=_NDCG_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("exact_rank")
    )
    approx = similarity.bucketed_topk(
        emb, queries, k=_NDCG_K, n_bits=4
    ).select("query_id", "neighbor_id", F.col("rank").alias("ann_rank"))
    w_map = F.create_map(
        *[F.lit(x) for i, w in enumerate(_NDCG_W, start=1) for x in (i, w)]
    )
    gains = approx.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        F.coalesce(
            F.lit(_NDCG_K + 1) - F.col("exact_rank"), F.lit(0)
        ).alias("rel"),
        w_map[F.col("ann_rank")].alias("w"),
    )
    per_q = gains.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.col("w")).cast("bigint").alias("dcg_micro"),
        F.sum((F.col("rel") > 0).cast("int")).cast("bigint").alias("hits"),
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("dcg_micro"), F.lit(0))
            .cast("bigint")
            .alias("dcg_micro"),
            F.expr(
                f"coalesce(dcg_micro, 0) * 1000000 DIV {_NDCG_IDEAL}"
            )
            .cast("bigint")
            .alias("ndcg_ppm"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# HLL mergeability — the reason a sketch earns its place at 100 TB: one
# register table per event_type (computed in a single grouped pass,
# map-side max-combined), then the global estimate from a UNION-MERGE of
# those tables (per-register max) — never a rescan. Both the per-scope
# estimates and the merged scope are oracle-checked register-for-
# register; max's associativity makes the merge lossless (merged
# registers == the registers a direct global pass builds).
# ---------------------------------------------------------------------------


def _hll_union_oracle() -> str:
    from milvus_cdc_spark.analytics.sketches import hll_alpha_numerator

    m = 64
    rho_cases = " ".join(
        f"WHEN v >= {1 << (24 - k)} THEN {k}" for k in range(1, 25)
    )
    nib = "(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1)::BIGINT"
    h_b = "md5('21:' || CAST(user_id AS VARCHAR))"
    h_v = "md5('23:' || CAST(user_id AS VARCHAR))"
    b = [nib.format(h=h_b, i=i) for i in (1, 2, 3)]
    v_nibs = [nib.format(h=h_v, i=i) for i in range(1, 7)]
    v_expr = v_nibs[0]
    for t in v_nibs[1:]:
        v_expr = f"({v_expr} * 16 + {t})"
    return f"""
    WITH hashed AS (
      SELECT event_type,
             (({b[0]} * 256 + {b[1]} * 16 + {b[2]}) % {m}) AS bucket,
             {v_expr} AS v
      FROM events
    ),
    rho AS (
      SELECT event_type, bucket, CASE {rho_cases} ELSE 25 END AS rho
      FROM hashed
    ),
    regs AS (
      SELECT event_type, bucket, max(rho) AS reg
      FROM rho GROUP BY event_type, bucket
    ),
    scoped AS (
      SELECT event_type AS scope, bucket, reg FROM regs
      UNION ALL
      SELECT '__all__' AS scope, bucket, max(reg) AS reg
      FROM regs GROUP BY bucket
    ),
    folded AS (
      SELECT scope,
             CAST(count(*) AS BIGINT) AS n_set,
             CAST(coalesce(sum(1::BIGINT << (30 - reg)), 0)
                  + ({m} - count(*)) * {1 << 30} AS BIGINT) AS sum_scaled
      FROM scoped GROUP BY scope
    )
    SELECT scope, n_set, sum_scaled,
           round({hll_alpha_numerator(m)!r} / sum_scaled, 2) AS estimate
    FROM folded
    ORDER BY scope
    """


@q(
    "hll_union_sources",
    _hll_union_oracle(),
    "sketch",
    "hyperloglog",
    "merge",
    "monitoring",
)
def hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HLL(m=64) distinct-user estimates plus the
    '__all__' union-merged estimate (sketches.hll_merge) — one grouped
    pass, merge on register tables only."""
    from milvus_cdc_spark.analytics import sketches

    events = _t(spark, sf_dir, "events")
    regs = sketches.hll_registers(
        events.select("event_type", F.col("user_id").alias("item")),
        m=64,
        group_cols=["event_type"],
    )
    scoped = regs.select(
        F.col("event_type").alias("scope"), "bucket", "reg"
    ).unionByName(
        sketches.hll_merge(regs).select(
            F.lit("__all__").alias("scope"), "bucket", "reg"
        )
    )
    return sketches.hll_estimate_frame(
        scoped, m=64, group_cols=["scope"]
    ).orderBy("scope")


# ---------------------------------------------------------------------------
# First-order Markov transition matrix of user behavior: per-user event
# sequences (one user-keyed window — complete users per task, the
# canonical partition-parallel shape), lag() pairing, then row-
# normalized transition probabilities in integer ppm. The behavioral
# twin of pmi_collocations' token pairing.
# ---------------------------------------------------------------------------


@q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ),
    cnt AS (
      SELECT prev_type AS src_type, event_type AS dst_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    tot AS (SELECT src_type, sum(n) AS t FROM cnt GROUP BY src_type)
    SELECT c.src_type, c.dst_type, c.n,
           CAST(c.n * 1000000 // t.t AS BIGINT) AS p_ppm
    FROM cnt c JOIN tot t USING (src_type)
    ORDER BY src_type, dst_type
    """,
    "events",
    "markov",
    "window",
    "monitoring",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts and row-normalized ppm
    probabilities from per-user lag() pairing."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy(
        F.col("prev_type").alias("src_type"),
        F.col("event_type").alias("dst_type"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    tot = cnt.groupBy("src_type").agg(F.sum("n").alias("t"))
    return (
        cnt.join(tot, "src_type")
        .select(
            "src_type",
            "dst_type",
            "n",
            F.expr("n * 1000000 DIV t").cast("bigint").alias("p_ppm"),
        )
        .orderBy("src_type", "dst_type")
    )


# ---------------------------------------------------------------------------
# EXACT set-similarity self-join via prefix filtering (AllPairs/PPJoin;
# Vernica et al. SIGMOD'10 MapReduce formulation) over 3-gram shingle
# sets — the zero-false-negative complement to the MinHash-LSH near-dup
# path: LSH trades recall for speed, the prefix filter keeps exactness
# and pays only a rare-token candidate join (candidates at sf0.1:
# ~409k of the 12.4M possible pairs; qualifying: 256).
# ---------------------------------------------------------------------------

_SETSIM_T = 500000


@q(
    "setsim_prefix_join",
    f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id AS id, unnest(list_distinct(
        CASE WHEN len(toks) - 2 > 0
             THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END)) AS tok
      FROM base
    ),
    toks AS (SELECT DISTINCT id, tok FROM sh),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    ranked AS (
      SELECT t.id, t.tok,
             row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok)
               AS rn,
             s.n
      FROM toks t JOIN dfreq d USING (tok) JOIN sizes s USING (id)
    ),
    prefix AS (
      SELECT id, tok FROM ranked
      WHERE rn <= n - ((n * {_SETSIM_T} + 999999) // 1000000) + 1
    ),
    cand AS (
      SELECT DISTINCT pa.id AS a, pb.id AS b
      FROM prefix pa JOIN prefix pb
        ON pa.tok = pb.tok AND pa.id < pb.id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN toks ta ON ta.id = c.a
      JOIN toks tb ON tb.id = c.b AND tb.tok = ta.tok
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - i.inter AS BIGINT) AS uni,
           CAST(i.inter * 1000000 // (sa.n + sb.n - i.inter) AS BIGINT)
             AS jacc_ppm
    FROM inter i
    JOIN sizes sa ON sa.id = i.a
    JOIN sizes sb ON sb.id = i.b
    WHERE i.inter * 1000000 // (sa.n + sb.n - i.inter) >= {_SETSIM_T}
    ORDER BY jacc_ppm DESC, a, b
    """,
    "dedup",
    "setsim",
    "prefix-filter",
    "exact",
    "llm",
)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.5 document pairs over 3-gram shingle sets
    (dedup.set_similarity_join, prefix-filtered candidates)."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    sh = dedup.shingle_rows(docs, "doc_id", "text", n=3)
    out = dedup.set_similarity_join(
        sh, threshold_ppm=_SETSIM_T, id_col="doc_id", item_col="s"
    )
    return out.orderBy(F.col("jacc_ppm").desc(), "a", "b")


# ---------------------------------------------------------------------------
# INT8 vector search (Milvus 2.6 DataType.INT8_VECTOR): vectors stored
# as int8 codes, distance = integer inner product. Quantization rule
# clamp(floor(x*64 + 0.5), -128, 127) is one correctly-rounded IEEE op
# per element (the repo's portable-float contract), and from there the
# ENTIRE distance computation is exact BIGINT — int8 IP never sees a
# float, which is precisely why the type exists (SIMD int8 dot products
# at a quarter of fp32 bandwidth).
# ---------------------------------------------------------------------------


@q(
    "int8_ip_search_topk",
    """
    WITH q8 AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[],
               x -> greatest(-128, least(127,
                      CAST(floor(x * 64 + 0.5) AS BIGINT)))) AS c
      FROM embeddings
    ),
    q AS (SELECT * FROM q8 WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(c.c, q.c),
                                          p -> p[1] * p[2])) AS BIGINT)
               AS ip
      FROM q8 c, q WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ip,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ip DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, ip
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "int8",
    "quantization",
    "search",
    "llm",
)
def int8_ip_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors by EXACT integer int8 inner product (Milvus 2.6
    INT8_VECTOR surface) — distance math never touches a float."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    codes = emb.select("vec_id", vecf.int8_codes(F.col("embedding")).alias("c"))
    queries = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    scored = similarity.search_pairs(
        codes, queries, vecf.dot_i64(F.col("c"), F.col("qc")).alias("ip")
    )
    order = [F.col("ip").desc(), F.col("neighbor_id")]
    return (
        windows.top_k(scored, "query_id", order, 3)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("ip").cast("bigint").alias("ip"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Grouped rank statistics: one-vs-rest AUC PER SOURCE. Unlike the
# global AUC (which needs the distributed prefix-sum), the per-group
# cumulative is a plain source-partitioned window over the per-distinct-
# score count table — each task owns whole sources, the canonical
# partition-parallel window; the global primitive stays reserved for
# the one axis that has no partition key. Degenerate sources (single
# class) are excluded — AUC is undefined there.
# ---------------------------------------------------------------------------


@q(
    "grouped_auc_by_source",
    """
    WITH per AS (
      SELECT source, n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS pos,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
               AS neg
      FROM documents GROUP BY source, n_chars
    ),
    c AS (
      SELECT source, pos, neg,
             CAST(coalesce(sum(neg) OVER (
               PARTITION BY source ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS neg_below
      FROM per
    ),
    agg AS (
      SELECT source,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(sum(2 * pos * neg_below + pos * neg) AS BIGINT) AS u2
      FROM c GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           CAST(u2 * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    ORDER BY source
    """,
    "eval",
    "auc",
    "grouped",
    "rank-statistic",
    "llm",
)
def grouped_auc_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tie-aware AUC of doc length predicting English —
    source-partitioned cumulative windows, exact integer ppm."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source", F.col("n_chars").alias("s")).agg(
        F.sum((F.col("lang") == "en").cast("int")).cast("bigint").alias("pos"),
        F.sum((F.col("lang") != "en").cast("int")).cast("bigint").alias("neg"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = per.withColumn(
        "neg_below", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    agg = c.groupBy("source").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(
            2 * F.col("pos") * F.col("neg_below")
            + F.col("pos") * F.col("neg")
        )
        .cast("bigint")
        .alias("u2"),
    )
    return (
        agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            "source",
            "n_pos",
            "n_neg",
            F.expr("u2 * 1000000 DIV (2 * n_pos * n_neg)")
            .cast("bigint")
            .alias("auc_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Delete-by-EXPRESSION replay: Milvus delete() takes a filter expression,
# not just pk lists (delete by expr evaluates against the data visible at
# delete time). Composed here with the LWW replay: pk-level ops derive
# as in oplog.derive_oplog but carry payload attributes, two expr-delete
# control ops (fixed hybrid-TSO timestamps, Python-int literals shared by
# both engines) erase matching rows whose latest insert precedes them —
# a later re-insert resurrects the pk, exactly the as-of semantics of
# the drop-state predicate (P9). The Spark side compiles the SAME Milvus
# filter strings through functions.expr.compile_expr — the expr compiler
# driving the apply path, not just read-side filtering.
# ---------------------------------------------------------------------------

# hybrid-TSO ts of the two expr-deletes: epoch_ms(date) << 18
_ED1_TS = 801964800000 << 18   # 1995-06-01
_ED2_TS = 852076800000 << 18   # 1997-01-01
_ED1_EXPR = 'qty > 45 and flag == "R"'
_ED2_EXPR = 'qty <= 5 and flag != "A"'


@q(
    "delete_by_expr_replay",
    f"""
    WITH ops AS (
      SELECT (epoch_ms(l_shipdate) << 18) + (l_orderkey % 262144) AS ts,
             CASE WHEN substr(md5(CAST(l_partkey * 100 + l_linenumber
                                        AS VARCHAR) || ':'
                                   || CAST(l_orderkey AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3')
                  THEN 'delete' ELSE 'insert' END AS op_type,
             'coll_' || CAST(l_suppkey % 3 AS VARCHAR) AS collection,
             l_partkey * 100 + l_linenumber AS pk,
             CAST(l_quantity AS BIGINT) AS qty,
             l_returnflag AS flag,
             l_orderkey AS seq
      FROM lineitem
    ),
    latest_ins AS (
      SELECT collection, pk, ts AS ins_ts, qty, flag
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY collection, pk ORDER BY ts DESC, seq DESC
        ) AS rn
        FROM ops WHERE op_type = 'insert'
      ) WHERE rn = 1
    ),
    dels AS (
      SELECT collection, pk, max(ts) AS del_ts
      FROM ops WHERE op_type = 'delete' GROUP BY collection, pk
    ),
    state AS (
      SELECT i.collection, i.pk, i.ins_ts, i.qty, i.flag,
             coalesce(d.del_ts, -1) AS del_ts,
             CASE WHEN i.qty > 45 AND i.flag = 'R'
                       AND {_ED1_TS} > i.ins_ts THEN 1 ELSE 0 END AS m1,
             CASE WHEN i.qty <= 5 AND i.flag <> 'A'
                       AND {_ED2_TS} > i.ins_ts THEN 1 ELSE 0 END AS m2
      FROM latest_ins i LEFT JOIN dels d
        ON d.collection = i.collection AND d.pk = i.pk
    )
    SELECT collection,
           CAST(count(*) AS BIGINT) AS n_pks,
           CAST(sum(CASE WHEN ins_ts <= del_ts THEN 1 ELSE 0 END) AS BIGINT)
             AS pk_deleted,
           CAST(sum(CASE WHEN ins_ts > del_ts AND (m1 = 1 OR m2 = 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS expr_deleted,
           CAST(sum(CASE WHEN ins_ts > del_ts AND m1 = 0 AND m2 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS alive
    FROM state
    GROUP BY collection
    ORDER BY collection
    """,
    "cdc",
    "delete-by-expr",
    "expr",
    "replay",
)
def delete_by_expr_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW replay with Milvus delete-by-expression ops: the two filter
    strings compile through functions.expr.compile_expr and erase rows
    whose latest insert precedes the delete's timestamp."""
    from milvus_cdc_spark.functions.expr import compile_expr
    from milvus_cdc_spark.partitioning import widen_small_scan

    li = widen_small_scan(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_linenumber"
    )
    pk = (F.col("l_partkey") * 100 + F.col("l_linenumber")).cast("bigint")
    ts = (
        F.shiftleft(F.unix_millis(F.col("l_shipdate")), 18)
        + (F.col("l_orderkey") % 262144)
    ).cast("bigint")
    # per-ROW coin flip (pk:seq), unlike derive_oplog's per-pk flip —
    # a pk must accumulate BOTH inserts and deletes for LWW vs expr-
    # delete interplay to be exercised (a per-pk flip makes pk_deleted
    # degenerately zero: delete-only pks never enter the insert state)
    op_type = F.when(
        F.substring(
            F.md5(F.concat(pk.cast("string"), F.lit(":"),
                           F.col("l_orderkey").cast("string"))), 1, 1
        ).isin("0", "1", "2", "3"),
        F.lit("delete"),
    ).otherwise(F.lit("insert"))
    ops = li.select(
        ts.alias("ts"),
        op_type.alias("op_type"),
        F.concat(
            F.lit("coll_"), (F.col("l_suppkey") % 3).cast("string")
        ).alias("collection"),
        pk.alias("pk"),
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("seq"),
    )
    # Single-pass LWW state (the consistency-replay shape): one
    # conditional aggregate replaces the window-sorted latest-insert
    # branch + delete-max branch + their join. (ts, seq) is unique per
    # (collection, pk) — (l_orderkey, l_linenumber) is the lineitem pk —
    # so max(struct(ts, seq, qty, flag)) picks exactly the row the
    # (ts desc, seq desc) row_number window kept.
    latest = (
        ops.groupBy("collection", "pk")
        .agg(
            F.max(
                F.when(
                    F.col("op_type") == "insert",
                    F.struct("ts", "seq", "qty", "flag"),
                )
            ).alias("_ins"),
            F.max(
                F.when(F.col("op_type") == "delete", F.col("ts"))
            ).alias("_del_ts"),
        )
        .filter(F.col("_ins").isNotNull())
        .select(
            "collection",
            F.col("_ins.ts").alias("ins_ts"),
            F.col("_ins.qty").alias("qty"),
            F.col("_ins.flag").alias("flag"),
            F.coalesce(F.col("_del_ts"), F.lit(-1)).alias("del_ts"),
        )
    )
    fields = {"qty": F.col("qty"), "flag": F.col("flag")}
    m1 = compile_expr(_ED1_EXPR, fields) & (F.lit(_ED1_TS) > F.col("ins_ts"))
    m2 = compile_expr(_ED2_EXPR, fields) & (F.lit(_ED2_TS) > F.col("ins_ts"))
    state = latest.select(
        "collection",
        "ins_ts",
        "del_ts",
        m1.cast("int").alias("m1"),
        m2.cast("int").alias("m2"),
    )
    pk_dead = (F.col("ins_ts") <= F.col("del_ts")).cast("int")
    expr_dead = (
        (F.col("ins_ts") > F.col("del_ts"))
        & ((F.col("m1") == 1) | (F.col("m2") == 1))
    ).cast("int")
    alive = (
        (F.col("ins_ts") > F.col("del_ts"))
        & (F.col("m1") == 0)
        & (F.col("m2") == 0)
    ).cast("int")
    return (
        state.groupBy("collection")
        .agg(
            F.count("*").cast("bigint").alias("n_pks"),
            F.sum(pk_dead).cast("bigint").alias("pk_deleted"),
            F.sum(expr_dead).cast("bigint").alias("expr_deleted"),
            F.sum(alive).cast("bigint").alias("alive"),
        )
        .orderBy("collection")
    )


# ---------------------------------------------------------------------------
# EXACT Hamming-distance self-join over 32-bit SimHash fingerprints via
# pigeonhole banding (Manku, Jain & Sarma, WWW 2007 — the production
# simhash dedup design): split the fingerprint into d+1 bands; any pair
# within Hamming distance d must agree EXACTLY on at least one band
# (pigeonhole — d flipped bits cannot touch all d+1 bands), so band-
# equality equi-joins generate a candidate superset with zero false
# negatives, and bit_count(xor) verifies exactly. Band width must scale
# with the corpus (SCALE.md §6b's banding lesson): 8-bit bands suit the
# fixture; a 100 TB corpus widens the fingerprint and the bands so
# bucket occupancy stays bounded.
# ---------------------------------------------------------------------------

_HB_BITS = 32
_HB_BANDS = 4          # d+1 bands => exact for d <= 3
_HB_MAXD = 3


def _sql_hamming_banded_oracle() -> str:
    digit = "(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"
    v = " + ".join(
        f"{digit.format(pos=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    bit_sums = ", ".join(
        f"sum(CASE WHEN (v // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_HB_BITS)
    )
    fp_expr = " + ".join(
        f"CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(_HB_BITS)
    )
    band_w = _HB_BITS // _HB_BANDS
    bands = ", ".join(
        f"({i}, (fp // {1 << (band_w * i)}) % {1 << band_w})"
        for i in range(_HB_BANDS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        string_split_regex(trim(lower(text)), '\\s+'), t -> t != '')) AS tok
      FROM documents
    ),
    vals AS (
      SELECT doc_id, {v} AS v FROM (SELECT doc_id, md5(tok) AS h FROM toks)
    ),
    sums AS (SELECT doc_id, {bit_sums} FROM vals GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({fp_expr} AS BIGINT) AS fp FROM sums),
    bands AS (
      SELECT doc_id, fp, b.band_idx, b.band_val
      FROM fp, LATERAL (SELECT * FROM (VALUES {bands}) t(band_idx, band_val))
        AS b
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y
        ON x.band_idx = y.band_idx AND x.band_val = y.band_val
       AND x.doc_id < y.doc_id
    )
    SELECT c.a, c.b,
           CAST(bit_count(xor(fa.fp, fb.fp)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.a
    JOIN fp fb ON fb.doc_id = c.b
    WHERE bit_count(xor(fa.fp, fb.fp)) <= {_HB_MAXD}
    ORDER BY a, b
    """


@q(
    "hamming_banded_join",
    _sql_hamming_banded_oracle(),
    "dedup",
    "simhash",
    "hamming",
    "pigeonhole",
    "llm",
)
def hamming_banded_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs within Hamming distance 3 of their 32-bit
    SimHash — pigeonhole band candidates (zero false negatives), exact
    bit_count(xor) verification."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    v = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
    sums = toks.select("doc_id", v.alias("v")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.floor(F.col("v") / (1 << j)) % 2) == 1, 1).otherwise(
                    -1
                )
            ).alias(f"s{j}")
            for j in range(_HB_BITS)
        ]
    )
    fp_col = None
    for j in range(_HB_BITS):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp_col = term if fp_col is None else fp_col + term
    fp = sums.select("doc_id", fp_col.cast("bigint").alias("fp"))
    band_w = _HB_BITS // _HB_BANDS
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        (
                            F.floor(F.col("fp") / (1 << (band_w * i)))
                            % (1 << band_w)
                        )
                        .cast("bigint")
                        .alias("band_val"),
                    )
                    for i in range(_HB_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "fp", "bv.band_idx", "bv.band_val")
    x, y = bands.alias("x"), bands.alias("y")
    # both band rows carry the full fingerprint, so the exact Hamming
    # check runs INSIDE the band join output — the distinct then
    # shuffles only the qualifying pairs (a pair can collide in several
    # bands) instead of every banded collision through a distinct plus
    # two fingerprint joins (2.6M collision rows vs ~96k qualifiers at
    # sf0.1)
    ham = F.bit_count(F.col("x.fp").bitwiseXOR(F.col("y.fp")))
    return (
        x.join(
            y,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            ham.cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= _HB_MAXD)
        .distinct()
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# SCD2 as-of enrichment via the union-sort trick (joins.asof_union_join):
# a weekly-versioned per-user tier dimension (data-sized — grows with
# the user population, so the J7 broadcast is off the table) enriches
# every event with the version in force at its timestamp. The naive
# formulations are a range join or an argmax over fact x versions; the
# union-sort plan is ONE key-partitioned window — facts and versions
# shuffle together on user_id and each task scans complete users in
# time order. The oracle deliberately uses the argmax formulation:
# same answer, independent derivation.
# ---------------------------------------------------------------------------


@q(
    "scd2_asof_enrich",
    """
    WITH weeks AS (
      SELECT DISTINCT date_trunc('week', ts) AS w FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    dim AS (
      SELECT user_id, w,
             CAST((user_id + day(w)) % 3 AS BIGINT) AS tier
      FROM users, weeks
    ),
    ranked AS (
      SELECT e.event_id, e.event_type, d.tier,
             row_number() OVER (
               PARTITION BY e.event_id ORDER BY d.w DESC
             ) AS rn
      FROM events e
      JOIN dim d ON d.user_id = e.user_id AND d.w <= e.ts
    )
    SELECT tier, event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM ranked WHERE rn = 1
    GROUP BY tier, event_type
    ORDER BY tier, event_type
    """,
    "join",
    "asof",
    "scd2",
    "window",
)
def scd2_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events enriched with the weekly tier version in force at their
    timestamp (union-sort as-of join), rolled up per (tier, type)."""
    from milvus_cdc_spark.operators.joins import asof_union_join

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    weeks = ev.select(F.date_trunc("week", "ts").alias("w")).distinct()
    users = ev.select("user_id").distinct()
    dim = users.crossJoin(F.broadcast(weeks)).select(
        "user_id",
        "w",
        ((F.col("user_id") + F.dayofmonth("w")) % 3)
        .cast("bigint")
        .alias("tier"),
    )
    enriched = asof_union_join(
        ev, dim, key="user_id", fact_ts="ts", dim_ts="w",
        value_cols=["tier"],
    )
    return (
        enriched.groupBy("tier", "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .orderBy("tier", "event_type")
    )


# ---------------------------------------------------------------------------
# Community detection on the co-order part graph: 2 rounds of
# deterministic synchronous label propagation (graph.label_propagation)
# — the density-finding complement to connected_components'
# reachability. Oracle unrolls the identical rounds as CTEs.
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    c{i} AS (
      SELECT e.src, l.label, count(*) AS c
      FROM e JOIN {prev} l ON l.node = e.dst
      GROUP BY e.src, l.label
    ),
    l{i} AS (
      SELECT src AS node, label FROM (
        SELECT src, label,
               row_number() OVER (
                 PARTITION BY src ORDER BY c DESC, label
               ) AS rn
        FROM c{i}
      ) WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH f AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem WHERE l_quantity >= {_TRI_MIN_QTY}
    ),
    p AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM f a JOIN f b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT pa AS src, pb AS dst FROM p
      UNION
      SELECT pb AS src, pa AS dst FROM p
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),{",".join(rounds)}
    SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
    FROM {prev}
    GROUP BY label
    ORDER BY n_members DESC, community
    LIMIT 10
    """


@q(
    "label_propagation_communities",
    _lpa_oracle(),
    "graph",
    "community",
    "label-propagation",
    "iterative",
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 communities by size after 2 synchronous LPA rounds over
    the co-order part graph."""
    from milvus_cdc_spark.analytics import graph

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= _TRI_MIN_QTY)
        .select("l_orderkey", "l_partkey")
    )
    pairs = graph.co_group_pairs(li, "l_orderkey", "l_partkey").distinct()
    labels = graph.label_propagation(pairs, n_rounds=_LPA_ROUNDS, a_col="pa", b_col="pb")
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ColBERT-style MaxSim late-interaction scoring (Khattab & Zaharia,
# SIGIR 2020): score(q, d) = sum over query token-vectors of the max
# inner product against any document token-vector. Token vectors here
# are the 8 x 8-dim sub-vectors of each embedding (the fixture carries
# one vector per id), quantized to the int8 lattice so every IP is
# exact BIGINT — the nested transform/aggregate stays entirely in
# JVM higher-order expressions (no UDF, no explode: the 8x8 max-sum
# runs inside the row). At 100 TB the candidate generator (ANN over a
# pooled vector) prunes before MaxSim reranks — here every pair is
# scored because the oracle needs the full ranking.
# ---------------------------------------------------------------------------

_MS_SUB = 8   # sub-vectors per embedding
_MS_DIM = 8   # dims per sub-vector


def _ms_subvectors():
    """The embedding as ``_MS_SUB`` int8-coded sub-vectors of
    ``_MS_DIM`` dims each (``vector.int8_codes`` per slice)."""
    from milvus_cdc_spark.functions import vector as vecf

    return F.transform(
        F.sequence(F.lit(0), F.lit(_MS_SUB - 1)),
        lambda i: vecf.int8_codes(
            F.slice(F.col("embedding"), i * _MS_DIM + 1, _MS_DIM)
        ),
    )


@q(
    "maxsim_multivector_topk",
    f"""
    WITH codes AS (
      SELECT vec_id,
             list_transform(generate_series(0, {_MS_SUB - 1}),
               i -> list_transform(
                      embedding[i * {_MS_DIM} + 1 : i * {_MS_DIM} + {_MS_DIM}],
                      x -> greatest(-128, least(127,
                             CAST(floor(x::DOUBLE * 64 + 0.5) AS BIGINT)))))
               AS sub
      FROM embeddings
    ),
    q AS (SELECT * FROM codes WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(q.sub,
               qi -> list_max(list_transform(c.sub,
                 cj -> list_sum(list_transform(list_zip(qi, cj),
                                               p -> p[1] * p[2]))))))
               AS BIGINT) AS maxsim
      FROM codes c, q WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, maxsim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY maxsim DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, maxsim
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "maxsim",
    "multi-vector",
    "late-interaction",
    "llm",
)
def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors by exact integer MaxSim over 8x8-dim int8
    sub-vectors — late-interaction retrieval as pure JVM column
    algebra."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf
    from milvus_cdc_spark.partitioning import widen_small_scan

    emb = _t(spark, sf_dir, "embeddings")
    codes = emb.select("vec_id", _ms_subvectors().alias("sub"))
    queries = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("sub").alias("qsub")
    )
    # The |queries|-way MaxSim expansion (sub² int8 dots per pair) is
    # CPU-dense over a single-split fixture scan — widen the corpus side
    # so the crossJoin scorer runs on every core (no-op at real scale).
    scored = similarity.search_pairs(
        widen_small_scan(codes, "vec_id"),
        queries,
        vecf.maxsim_i64(F.col("qsub"), F.col("sub")).alias("maxsim"),
    )
    order = [F.col("maxsim").desc(), F.col("neighbor_id")]
    return (
        windows.top_k(scored, "query_id", order, 3)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            F.col("maxsim").cast("bigint").alias("maxsim"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Language-ID classifier evaluation: per-class precision / recall / F1
# in integer ppm over the stopword-hit heuristic's predictions (the
# same predictor lang_detect's confusion matrix reports). F1 derives
# from the ppm-rounded precision and recall with the same integer
# arithmetic in both engines — deterministic, division-guarded.
# ---------------------------------------------------------------------------


@q(
    "langid_precision_recall",
    """
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS toks
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
      SELECT lang,
             CASE WHEN greatest(h_en,h_es,h_fr,h_de,h_zh) = 0 THEN 'und'
                  WHEN h_en = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'en'
                  WHEN h_es = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'es'
                  WHEN h_fr = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'fr'
                  WHEN h_de = greatest(h_en,h_es,h_fr,h_de,h_zh) THEN 'de'
                  ELSE 'zh' END AS predicted
      FROM hits
    ),
    classes AS (SELECT DISTINCT lang AS cls FROM pred),
    stats AS (
      SELECT c.cls,
             CAST(sum(CASE WHEN p.lang = c.cls AND p.predicted = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p.lang <> c.cls AND p.predicted = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p.lang = c.cls AND p.predicted <> c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM classes c, pred p
      GROUP BY c.cls
    )
    SELECT cls AS lang, tp, fp, fn,
           CAST(CASE WHEN tp + fp = 0 THEN 0
                     ELSE tp * 1000000 // (tp + fp) END AS BIGINT)
             AS precision_ppm,
           CAST(CASE WHEN tp + fn = 0 THEN 0
                     ELSE tp * 1000000 // (tp + fn) END AS BIGINT)
             AS recall_ppm,
           CAST(CASE WHEN (CASE WHEN tp + fp = 0 THEN 0
                                ELSE tp * 1000000 // (tp + fp) END)
                        + (CASE WHEN tp + fn = 0 THEN 0
                                ELSE tp * 1000000 // (tp + fn) END) = 0
                     THEN 0
                     ELSE 2 * (CASE WHEN tp + fp = 0 THEN 0
                                    ELSE tp * 1000000 // (tp + fp) END)
                            * (CASE WHEN tp + fn = 0 THEN 0
                                    ELSE tp * 1000000 // (tp + fn) END)
                          // ((CASE WHEN tp + fp = 0 THEN 0
                                    ELSE tp * 1000000 // (tp + fp) END)
                              + (CASE WHEN tp + fn = 0 THEN 0
                                      ELSE tp * 1000000 // (tp + fn) END))
                END AS BIGINT) AS f1_ppm
    FROM stats
    ORDER BY lang
    """,
    "eval",
    "langid",
    "precision-recall",
    "text",
    "llm",
)
def langid_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (integer ppm) of the stopword-hit
    language-ID heuristic against the labeled lang column."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", textf.detect_lang(F.col("text")).alias("predicted")
    )
    # ONE corpus pass: the confusion matrix is catalog-sized
    # (|langs| x |langs|+1), so everything after this aggregate is tiny.
    # The previous shape (classes.crossJoin(pred)) replicated every
    # document row per class — a |classes|x scan-and-shuffle blowup at
    # scale with identical output.
    cm = pred.groupBy("lang", "predicted").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # Unpivot each matrix cell into its per-class contributions: the
    # true-label side collects tp (diagonal) / fn (off-diagonal), the
    # predicted side collects fp (off-diagonal). A class is a TRUE class
    # (the original DISTINCT lang) iff its row-total tp+fn > 0, which
    # drops predicted-only labels such as 'und' exactly as the
    # classes-driven shape did.
    diag = F.col("lang") == F.col("predicted")
    contrib = cm.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lang").alias("cls"),
                    F.when(diag, F.col("n")).otherwise(F.lit(0)).alias("tp"),
                    F.lit(0).cast("bigint").alias("fp"),
                    F.when(~diag, F.col("n")).otherwise(F.lit(0)).alias("fn"),
                ),
                F.struct(
                    F.col("predicted").alias("cls"),
                    F.lit(0).cast("bigint").alias("tp"),
                    F.when(~diag, F.col("n")).otherwise(F.lit(0)).alias("fp"),
                    F.lit(0).cast("bigint").alias("fn"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    stats = (
        contrib.groupBy("cls")
        .agg(
            F.sum("tp").cast("bigint").alias("tp"),
            F.sum("fp").cast("bigint").alias("fp"),
            F.sum("fn").cast("bigint").alias("fn"),
        )
        .where(F.col("tp") + F.col("fn") > 0)
    )
    p = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0)).otherwise(
        F.expr("tp * 1000000 DIV (tp + fp)")
    )
    r = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0)).otherwise(
        F.expr("tp * 1000000 DIV (tp + fn)")
    )
    out = stats.select(
        F.col("cls").alias("lang"),
        "tp",
        "fp",
        "fn",
        p.cast("bigint").alias("precision_ppm"),
        r.cast("bigint").alias("recall_ppm"),
    ).select(
        "lang",
        "tp",
        "fp",
        "fn",
        "precision_ppm",
        "recall_ppm",
        F.when(
            F.col("precision_ppm") + F.col("recall_ppm") == 0, F.lit(0)
        )
        .otherwise(
            F.expr(
                "2 * precision_ppm * recall_ppm "
                "DIV (precision_ppm + recall_ppm)"
            )
        )
        .cast("bigint")
        .alias("f1_ppm"),
    )
    return out.orderBy("lang")


# ---------------------------------------------------------------------------
# Association-rule mining over co-ordered parts (market basket):
# support / confidence / lift in integer ppm, minimum-support pruned
# BEFORE the metric join (the Apriori property — a pair can't beat the
# floor its items don't). Pair generation is bounded per order (<= 7
# lines -> <= 21 pairs), item counts are one aggregate, and the final
# top-k is TakeOrderedAndProject. PMI collocations rank token pairs by
# the same lift idea; this is the order/item-level rule report a
# curation pipeline uses for bundle/spam structure.
# ---------------------------------------------------------------------------

_MB_MIN_PAIRS = 3


@q(
    "copurchase_lift_topk",
    f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM baskets),
    items AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
      FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(count(*) AS BIGINT) AS n_pair
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= {_MB_MIN_PAIRS}
    )
    SELECT p.pa, p.pb, p.n_pair,
           CAST(p.n_pair * 1000000 // (SELECT n_orders FROM n) AS BIGINT)
             AS support_ppm,
           CAST(p.n_pair * 1000000 // ia.n_item AS BIGINT)
             AS confidence_ppm,
           CAST(p.n_pair * (SELECT n_orders FROM n) * 1000000
                // (ia.n_item * ib.n_item) AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN items ia ON ia.l_partkey = p.pa
    JOIN items ib ON ib.l_partkey = p.pb
    ORDER BY lift_ppm DESC, pa, pb
    LIMIT 10
    """,
    "analytics",
    "association-rules",
    "market-basket",
)
def copurchase_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 co-purchased part pairs by integer-ppm lift (min support
    applied before the metric join)."""
    from milvus_cdc_spark.analytics import graph

    li = _t(spark, sf_dir, "lineitem")
    # ONE wide shuffle: group the fact by order and collect the distinct
    # sorted item set per basket (collect_set dedups, so no separate
    # .distinct() pass). All three consumers — the n_orders scalar, the
    # per-item counts, and the pair builder — then derive from the
    # persisted per-order array frame, which is |orders|-sized (one row
    # per basket) instead of |distinct line items|-sized. Interleaved
    # A/B at sf0.1: 2.39 -> 1.97 s median over the distinct+persist
    # shape, and one fewer full-fact shuffle at scale.
    # Contract: collect_set DROPS NULL items, where the old
    # select().distinct() kept (order, NULL) rows and counted a NULL
    # group in the item/pair supports. Equivalent here only because
    # TPC-H l_partkey is NOT NULL — reusing this shape for a nullable
    # item column silently changes supports (same implicit behavior in
    # graph.co_group_pairs).
    baskets = cache(
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("_items"))
    )
    n_orders_df = baskets.agg(F.count("*").cast("bigint").alias("n_orders"))
    items = (
        baskets.select(F.explode("_items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("bigint").alias("n_item"))
    )
    pairs = (
        baskets.select(
            F.explode(graph.item_pairs_expr("_items")).alias("_p")
        )
        .select("_p.pa", "_p.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("bigint").alias("n_pair"))
        .filter(F.col("n_pair") >= _MB_MIN_PAIRS)
    )
    ia = items.select(F.col("l_partkey").alias("pa"), F.col("n_item").alias("na"))
    ib = items.select(F.col("l_partkey").alias("pb"), F.col("n_item").alias("nb"))
    return (
        pairs.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            "pa",
            "pb",
            "n_pair",
            F.expr("n_pair * 1000000 DIV n_orders")
            .cast("bigint")
            .alias("support_ppm"),
            F.expr("n_pair * 1000000 DIV na")
            .cast("bigint")
            .alias("confidence_ppm"),
            F.expr("n_pair * n_orders * 1000000 DIV (na * nb)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "pa", "pb")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection: near-dup clusters keep their
# HIGHEST-QUALITY member (longest text, ties -> smallest id) instead of
# the min-id default — the selection-policy layer real dedup pipelines
# put on top of clustering (keep the most complete variant, drop
# truncated mirrors). Reuses the minhash->LSH->verify->components chain
# and adds one broadcast join + one component-keyed argmax window.
# ---------------------------------------------------------------------------


def _quality_canonical_oracle() -> str:
    from milvus_cdc_spark.suite import _ORACLE_NEAR_DUP_PAIRS_CTE

    return (
        _ORACLE_NEAR_DUP_PAIRS_CTE
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
    ranked AS (
      SELECT c.component, c.node, d.n_chars,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.node
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS kept_doc,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS kept_chars,
           CAST(sum(n_chars) - min(CASE WHEN rn = 1 THEN n_chars END)
                AS BIGINT) AS chars_saved
    FROM ranked
    GROUP BY component
    ORDER BY component
    """
    ).replace("WITH base AS (", "WITH RECURSIVE base AS (", 1)


@q(
    "quality_canonical_selection",
    _quality_canonical_oracle(),
    "dedup",
    "clustering",
    "canonical-selection",
    "llm",
)
def quality_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: the longest member kept (ties -> smallest
    id) and the character savings from dropping the rest."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    strong = dedup.near_dup_pipeline(docs, k=8, bands=4).filter(
        F.col("jaccard") >= 0.2
    )
    comp = dedup.connected_components(strong, shuffle_partitions=8)
    member = comp.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    # per-component argmax (n_chars desc, node asc) as min(struct(
    # -n_chars, node, ...)) — ONE partial-aggregating extremum (struct
    # buffer => SortAggregate on skinny rows) with map-side partial
    # combine replaces the row_number window sort + second groupBy the
    # oracle's CTE shape mirrors.
    picked = member.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("_chars_total"),
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("_neg"),
                F.col("node"),
                F.col("n_chars"),
            )
        ).alias("_pick"),
    )
    return picked.select(
        "component",
        "n_members",
        F.col("_pick.node").cast("bigint").alias("kept_doc"),
        F.col("_pick.n_chars").cast("bigint").alias("kept_chars"),
        (F.col("_chars_total") - F.col("_pick.n_chars"))
        .cast("bigint")
        .alias("chars_saved"),
    ).orderBy("component")


# ---------------------------------------------------------------------------
# Context-length planning: for each candidate sequence length, what
# fraction of documents fits untruncated and what share of corpus
# tokens a hard-truncation policy would discard — the one-scan report
# that decides seq_len before a packing run (sequence_packing then
# executes the chosen length). One aggregate per candidate over a
# single token-count scan; all integer ppm.
# ---------------------------------------------------------------------------

_CTX_LENS = (32, 64, 128)


@q(
    "context_length_histogram",
    f"""
    WITH tc AS (
      SELECT len({_SQL_TOKS}) AS n_toks FROM documents
    ),
    lens AS (SELECT unnest([{", ".join(str(x) for x in _CTX_LENS)}])
             AS seq_len)
    SELECT l.seq_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN t.n_toks <= l.seq_len THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fit,
           CAST(sum(CASE WHEN t.n_toks <= l.seq_len THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS fit_ppm,
           CAST(sum(t.n_toks) AS BIGINT) AS toks_total,
           CAST(sum(CASE WHEN t.n_toks > l.seq_len
                         THEN t.n_toks - l.seq_len ELSE 0 END) AS BIGINT)
             AS toks_truncated,
           CAST(sum(CASE WHEN t.n_toks > l.seq_len
                         THEN t.n_toks - l.seq_len ELSE 0 END)
                * 1000000 // sum(t.n_toks) AS BIGINT) AS truncated_ppm
    FROM lens l, tc t
    GROUP BY l.seq_len
    ORDER BY l.seq_len
    """,
    "llm",
    "packing",
    "planning",
    "pipeline",
)
def context_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per candidate seq_len: docs fitting untruncated and the corpus
    token share a hard truncation would discard (integer ppm)."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    tc = docs.select(
        F.size(textf.tokens(F.lower(F.col("text")))).alias("n_toks")
    )
    lens = _local_frame(docs.sparkSession, 
        [(x,) for x in _CTX_LENS], "seq_len int"
    )
    j = tc.crossJoin(F.broadcast(lens))
    over = F.when(
        F.col("n_toks") > F.col("seq_len"),
        F.col("n_toks") - F.col("seq_len"),
    ).otherwise(0)
    return (
        j.groupBy("seq_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n_toks") <= F.col("seq_len")).cast("int"))
            .cast("bigint")
            .alias("n_fit"),
            F.sum("n_toks").cast("bigint").alias("toks_total"),
            F.sum(over).cast("bigint").alias("toks_truncated"),
        )
        .select(
            "seq_len",
            "n_docs",
            "n_fit",
            F.expr("n_fit * 1000000 DIV n_docs")
            .cast("bigint")
            .alias("fit_ppm"),
            "toks_total",
            "toks_truncated",
            F.expr("toks_truncated * 1000000 DIV toks_total")
            .cast("bigint")
            .alias("truncated_ppm"),
        )
        .orderBy("seq_len")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment join (quote/subset detection): ordered pairs
# where >= 80% of A's shingles appear in B — what Jaccard dedup
# structurally misses (a short doc inside a long one has tiny J). A's
# rarest-element prefix joins against the FULL element table
# (containment gives B no prefix); exact verify. The contamination
# scanner's core: benchmark text quoted inside a training page.
# ---------------------------------------------------------------------------

_CONT_T = 800000


@q(
    "containment_quote_detection",
    f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id AS id, unnest(list_distinct(
        CASE WHEN len(toks) - 2 > 0
             THEN list_transform(generate_series(1, len(toks) - 2),
                                 i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END)) AS tok
      FROM base
    ),
    toks AS (SELECT DISTINCT id, tok FROM sh),
    sizes AS (SELECT id, count(*) AS n FROM toks GROUP BY id),
    dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
    ranked AS (
      SELECT t.id, t.tok,
             row_number() OVER (PARTITION BY t.id ORDER BY d.df, t.tok)
               AS rn,
             s.n
      FROM toks t JOIN dfreq d USING (tok) JOIN sizes s USING (id)
    ),
    prefix AS (
      SELECT id, tok FROM ranked
      WHERE rn <= n - ((n * {_CONT_T} + 999999) // 1000000) + 1
    ),
    cand AS (
      SELECT DISTINCT p.id AS a, t.id AS b
      FROM prefix p JOIN toks t ON t.tok = p.tok AND t.id != p.id
    ),
    inter AS (
      SELECT c.a, c.b, count(*) AS inter
      FROM cand c
      JOIN toks ta ON ta.id = c.a
      JOIN toks tb ON tb.id = c.b AND tb.tok = ta.tok
      GROUP BY c.a, c.b
    )
    SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.n AS BIGINT) AS na,
           CAST(i.inter * 1000000 // sa.n AS BIGINT) AS containment_ppm
    FROM inter i JOIN sizes sa ON sa.id = i.a
    WHERE i.inter * 1000000 // sa.n >= {_CONT_T}
    ORDER BY containment_ppm DESC, a, b
    """,
    "dedup",
    "containment",
    "contamination",
    "prefix-filter",
    "llm",
)
def containment_quote_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs with >= 80% shingle containment
    (dedup.containment_join over 3-gram shingle sets)."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    sh = dedup.shingle_rows(docs, "doc_id", "text", n=3)
    out = dedup.containment_join(
        sh, threshold_ppm=_CONT_T, id_col="doc_id", item_col="s"
    )
    return out.orderBy(F.col("containment_ppm").desc(), "a", "b")


# ---------------------------------------------------------------------------
# Mergeable quantile sketches, merged: per-returnflag 256-bucket
# histograms fold to per-scope p50/p90/p99, and the '__all__' scope is
# the UNION-MERGE of the per-flag tables (bucket-wise count sums) —
# lossless like the HLL register merge, because equi-width histograms
# are trivially additive. The rollup pattern: per-partition/day/source
# sketch tables merge without rescanning, and the merged quantiles
# equal a direct global pass exactly.
# ---------------------------------------------------------------------------

_QSM_WIDTH = 512
_QSM_PCTS = (50, 90, 99)


@q(
    "quantile_sketch_merge",
    f"""
    WITH hist AS (
      SELECT l_returnflag AS scope,
             least(CAST(floor(l_extendedprice)::BIGINT // {_QSM_WIDTH}
                        AS BIGINT), 255) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    scoped AS (
      SELECT scope, bucket, c FROM hist
      UNION ALL
      SELECT '__all__' AS scope, bucket, CAST(sum(c) AS BIGINT) AS c
      FROM hist GROUP BY bucket
    ),
    cum AS (
      SELECT scope, bucket, c,
             CAST(sum(c) OVER (PARTITION BY scope ORDER BY bucket)
                  AS BIGINT) AS cum_c,
             CAST(sum(c) OVER (PARTITION BY scope) AS BIGINT) AS total
      FROM scoped
    ),
    pcts AS (SELECT unnest([{", ".join(str(p) for p in _QSM_PCTS)}]) AS p),
    chosen AS (
      SELECT cm.scope, p.p, min(cm.bucket) AS bucket
      FROM pcts p JOIN cum cm
        ON cm.cum_c * 100 >= p.p * cm.total
      GROUP BY cm.scope, p.p
    )
    SELECT ch.scope AS scope, CAST(ch.p AS INT) AS p,
           CAST(ch.bucket AS INT) AS bucket,
           CAST(ch.bucket * {_QSM_WIDTH}
                + ((p.p * cm.total + 99) // 100 - (cm.cum_c - cm.c))
                  * {_QSM_WIDTH} // cm.c AS BIGINT) AS value_est
    FROM chosen ch
    JOIN cum cm ON cm.scope = ch.scope AND cm.bucket = ch.bucket
    JOIN pcts p ON p.p = ch.p
    ORDER BY ch.scope, p
    """,
    "sketch",
    "quantile",
    "merge",
    "monitoring",
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag p50/p90/p99 from 256-bucket histograms plus the
    '__all__' scope folded from the MERGED per-flag tables — the
    additive-sketch rollup."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("scope"),
        F.least(
            F.expr(f"CAST(floor(l_extendedprice) AS BIGINT) DIV {_QSM_WIDTH}"),
            F.lit(255).cast("bigint"),
        ).alias("bucket"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    merged = (
        hist.groupBy("bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .select(F.lit("__all__").alias("scope"), "bucket", "c")
    )
    scoped = hist.unionByName(merged)
    w_cum = (
        W.partitionBy("scope")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = scoped.select(
        "scope",
        "bucket",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cum_c"),
        F.sum("c").over(W.partitionBy("scope")).cast("bigint").alias("total"),
    )
    pcts = _local_frame(li.sparkSession, 
        [(p,) for p in _QSM_PCTS], "p int"
    )
    chosen = (
        F.broadcast(pcts)
        .join(cum, F.col("cum_c") * 100 >= F.col("p") * F.col("total"))
        .groupBy("scope", "p")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        chosen.join(cum, ["scope", "bucket"])
        .select(
            "scope",
            F.col("p").cast("int").alias("p"),
            F.col("bucket").cast("int").alias("bucket"),
            (
                F.col("bucket") * _QSM_WIDTH
                + F.expr(
                    f"((p * total + 99) DIV 100 - (cum_c - c)) "
                    f"* {_QSM_WIDTH} DIV c"
                )
            )
            .cast("bigint")
            .alias("value_est"),
        )
        .orderBy("scope", "p")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users — THE production use of a mergeable
# sketch: one grouped pass builds per-DAY HLL register tables; every
# day's trailing-7-day distinct estimate is a union-merge of 7 tiny
# register tables (day-window equi-join + per-register max + fold) —
# the raw events are scanned ONCE regardless of window length, where
# the exact rolling count rescans every event 7 times. Both the exact
# count (small here) and the sketch estimate are emitted so the
# approximation error is visible in the result itself.
# ---------------------------------------------------------------------------


def _rolling_hll_oracle() -> str:
    from milvus_cdc_spark.analytics.sketches import hll_alpha_numerator

    m = 64
    rho_cases = " ".join(
        f"WHEN v >= {1 << (24 - k)} THEN {k}" for k in range(1, 25)
    )
    nib = "(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1)::BIGINT"
    h_b = "md5('21:' || CAST(user_id AS VARCHAR))"
    h_v = "md5('23:' || CAST(user_id AS VARCHAR))"
    b = [nib.format(h=h_b, i=i) for i in (1, 2, 3)]
    v_nibs = [nib.format(h=h_v, i=i) for i in range(1, 7)]
    v_expr = v_nibs[0]
    for t in v_nibs[1:]:
        v_expr = f"({v_expr} * 16 + {t})"
    return f"""
    WITH ev AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM ev),
    hashed AS (
      SELECT d, (({b[0]} * 256 + {b[1]} * 16 + {b[2]}) % {m}) AS bucket,
             {v_expr} AS v
      FROM ev
    ),
    regs AS (
      SELECT d, bucket, max(CASE {rho_cases} ELSE 25 END) AS reg
      FROM hashed GROUP BY d, bucket
    ),
    merged AS (
      SELECT w.d, r.bucket, max(r.reg) AS reg
      FROM days w JOIN regs r
        ON r.d <= w.d AND r.d >= w.d - INTERVAL 6 DAY
      GROUP BY w.d, r.bucket
    ),
    folded AS (
      SELECT d,
             CAST(count(*) AS BIGINT) AS n_set,
             CAST(coalesce(sum(1::BIGINT << (30 - reg)), 0)
                  + ({m} - count(*)) * {1 << 30} AS BIGINT) AS sum_scaled
      FROM merged GROUP BY d
    ),
    exact AS (
      SELECT w.d, CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_users
      FROM days w JOIN ev e
        ON e.d <= w.d AND e.d >= w.d - INTERVAL 6 DAY
      GROUP BY w.d
    )
    SELECT f.d AS day, x.exact_users, f.n_set, f.sum_scaled,
           round({hll_alpha_numerator(m)!r} / f.sum_scaled, 2) AS estimate
    FROM folded f JOIN exact x ON x.d = f.d
    ORDER BY day
    """


@q(
    "rolling_active_users",
    _rolling_hll_oracle(),
    "sketch",
    "hyperloglog",
    "sliding-window",
    "monitoring",
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day: exact count beside the
    HLL union-merge estimate built from per-day register tables."""
    from milvus_cdc_spark.analytics import sketches

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.col("user_id"),
    )
    days = ev.select("d").distinct()
    regs = sketches.hll_registers(
        ev.select("d", F.col("user_id").alias("item")),
        m=64,
        group_cols=["d"],
    )
    win = days.select(F.col("d").alias("day"))
    in_window = (F.col("d") <= F.col("day")) & (
        F.col("d") >= F.date_sub(F.col("day"), 6)
    )
    merged = (
        F.broadcast(win)
        .join(regs, in_window)
        .groupBy("day", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    folded = sketches.hll_estimate_frame(merged, m=64, group_cols=["day"])
    exact = (
        F.broadcast(win)
        .join(ev, in_window)
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    )
    return (
        folded.join(exact, "day")
        .select("day", "exact_users", "n_set", "sum_scaled", "estimate")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast quality (MASE-lite): per event_type, hourly
# event counts are "forecast" by the same hour yesterday (lag 24) and
# by the previous hour (lag 1, the naive baseline); the ratio of their
# mean absolute errors in integer ppm says whether daily seasonality
# explains the series (ratio << 1e6) — the standard sanity check before
# wiring an anomaly detector to a metric. Hour gaps with no events are
# zero-filled from the hour dimension so lags align on real clock
# hours, not observed rows. All-integer counts and |diffs|.
# ---------------------------------------------------------------------------


@q(
    "seasonal_forecast_error",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                    (SELECT h1 FROM bounds),
                                    INTERVAL 1 HOUR)) AS h
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (SELECT t.event_type, h.h FROM types t, hours h),
    cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT g.event_type, g.h, coalesce(c.c, 0) AS c
      FROM grid g LEFT JOIN cnt c
        ON c.event_type = g.event_type AND c.h = g.h
    ),
    lagged AS (
      SELECT event_type, h, c,
             lag(c, 24) OVER (PARTITION BY event_type ORDER BY h) AS c24,
             lag(c, 1)  OVER (PARTITION BY event_type ORDER BY h) AS c1
      FROM series
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(abs(c - c24)) AS BIGINT) AS seasonal_abs_err,
           CAST(sum(abs(c - c1)) AS BIGINT) AS naive_abs_err,
           CAST(CASE WHEN sum(abs(c - c1)) = 0 THEN 1000000
                     ELSE sum(abs(c - c24)) * 1000000 // sum(abs(c - c1))
                END AS BIGINT) AS mase_ppm
    FROM lagged
    WHERE c24 IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    "events",
    "forecast",
    "monitoring",
    "window",
)
def seasonal_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: seasonal (lag-24h) vs naive (lag-1h) mean
    absolute error ratio over zero-filled hourly counts, integer ppm."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    cnt = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    series = grid.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    w = W.partitionBy("event_type").orderBy("h")
    lagged = series.select(
        "event_type",
        "c",
        F.lag("c", 24).over(w).alias("c24"),
        F.lag("c", 1).over(w).alias("c1"),
    ).filter(F.col("c24").isNotNull())
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_hours"),
            F.sum(F.abs(F.col("c") - F.col("c24")))
            .cast("bigint")
            .alias("seasonal_abs_err"),
            F.sum(F.abs(F.col("c") - F.col("c1")))
            .cast("bigint")
            .alias("naive_abs_err"),
        )
        .select(
            "event_type",
            "n_hours",
            "seasonal_abs_err",
            "naive_abs_err",
            F.when(F.col("naive_abs_err") == 0, F.lit(1000000))
            .otherwise(
                F.expr("seasonal_abs_err * 1000000 DIV naive_abs_err")
            )
            .cast("bigint")
            .alias("mase_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit — the classic generated-vs-organic data
# screen (fraud and synthetic-data detection): observed first-digit
# shares of l_extendedprice against Benford's log10(1 + 1/d)
# expectation, with the expected ppm computed ONCE in Python and
# inlined as identical integer literals (the NDCG-discount stance on
# transcendentals). TPC-H prices are uniform-ish, so the report SHOWS
# a deviation — which is exactly what the audit is for.
# ---------------------------------------------------------------------------

_BENFORD_PPM = {
    d: int(math.floor(math.log10(1 + 1 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}
_SQL_BENFORD = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())


@q(
    "benford_first_digit",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM lineitem
    ),
    obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits
      GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM obs),
    expect(digit, benford_ppm) AS (VALUES {_SQL_BENFORD})
    SELECT e.digit, coalesce(o.n, 0) AS n,
           CAST(coalesce(o.n, 0) * 1000000 // (SELECT t FROM tot)
                AS BIGINT) AS observed_ppm,
           CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(abs(coalesce(o.n, 0) * 1000000 // (SELECT t FROM tot)
                    - e.benford_ppm) AS BIGINT) AS abs_dev_ppm
    FROM expect e LEFT JOIN obs o ON o.digit = e.digit
    ORDER BY e.digit
    """,
    "eval",
    "benford",
    "data-quality",
    "monitoring",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed vs Benford first-digit distribution of
    l_extendedprice, integer ppm with shared expectation literals."""
    li = _t(spark, sf_dir, "lineitem")
    digits = li.select(
        F.substring(
            F.floor(F.col("l_extendedprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("t"))
    expect = _local_frame(li.sparkSession, 
        [(d, p) for d, p in _BENFORD_PPM.items()],
        "digit int, benford_ppm bigint",
    )
    return (
        F.broadcast(expect)
        .join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.expr("coalesce(n, 0) * 1000000 DIV t")
            .cast("bigint")
            .alias("observed_ppm"),
            F.col("benford_ppm").cast("bigint").alias("benford_ppm"),
            F.abs(
                F.expr("coalesce(n, 0) * 1000000 DIV t")
                - F.col("benford_ppm")
            )
            .cast("bigint")
            .alias("abs_dev_ppm"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Behavior path mining: top-10 three-step event-type sequences across
# user journeys (double lead() over the same user-keyed window the
# transition matrix uses — sequential pattern mining lite). Share is
# ppm of all observed trigrams; the top-k is TakeOrderedAndProject.
# ---------------------------------------------------------------------------


@q(
    "event_path_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS t2,
             lead(event_type, 2) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS t3
      FROM events
    ),
    tri AS (
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY t1, t2, t3
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM tri)
    SELECT t1, t2, t3, n,
           CAST(n * 1000000 // (SELECT t FROM tot) AS BIGINT) AS share_ppm
    FROM tri
    ORDER BY n DESC, t1, t2, t3
    LIMIT 10
    """,
    "events",
    "sequence-mining",
    "window",
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 (t1, t2, t3) event-type paths by frequency with ppm
    share, from per-user double-lead pairing."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    tri = seq.groupBy("t1", "t2", "t3").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = tri.agg(F.sum("n").cast("bigint").alias("t"))
    return (
        tri.crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            "t3",
            "n",
            F.expr("n * 1000000 DIV t").cast("bigint").alias("share_ppm"),
        )
        .orderBy(F.col("n").desc(), "t1", "t2", "t3")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Two-phase MaxSim — the 100 TB path the exact query's docstring
# promises: phase 1 generates candidates by the POOLED vector's 4-bit
# sign bucket (the whole-embedding sign-LSH used across the ANN
# family — cheap, bucket-bounded); phase 2 reranks only candidates
# with the full 8x8 int8 MaxSim. in_exact_top3 flags each reranked hit
# against the all-pairs MaxSim ranking, so the recall cost of the
# candidate stage is visible in the result (the maxscore_pruned_search
# reporting pattern).
# ---------------------------------------------------------------------------


@q(
    "maxsim_ann_rerank",
    f"""
    WITH codes AS (
      SELECT vec_id,
             list_transform(generate_series(0, {_MS_SUB - 1}),
               i -> list_transform(
                      embedding[i * {_MS_DIM} + 1 : i * {_MS_DIM} + {_MS_DIM}],
                      x -> greatest(-128, least(127,
                             CAST(floor(x::DOUBLE * 64 + 0.5) AS BIGINT)))))
               AS sub,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ),
    q AS (SELECT * FROM codes WHERE vec_id < 10),
    all_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(q.sub,
               qi -> list_max(list_transform(c.sub,
                 cj -> list_sum(list_transform(list_zip(qi, cj),
                                               p -> p[1] * p[2]))))))
               AS BIGINT) AS maxsim,
             c.bucket = q.bucket AS is_cand
      FROM codes c, q WHERE c.vec_id != q.vec_id
    ),
    exact3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY maxsim DESC, neighbor_id) AS rn
        FROM all_scored
      ) WHERE rn <= 3
    ),
    rer AS (
      SELECT query_id, neighbor_id, maxsim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY maxsim DESC, neighbor_id) AS rank
      FROM all_scored WHERE is_cand
    )
    SELECT r.query_id, CAST(r.rank AS INT) AS rank, r.neighbor_id,
           r.maxsim,
           CAST(CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS INT)
             AS in_exact_top3
    FROM rer r LEFT JOIN exact3 e
      ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
    WHERE r.rank <= 3
    ORDER BY r.query_id, r.rank
    """,
    "vector",
    "maxsim",
    "ann",
    "rerank",
    "two-phase",
    "llm",
)
def maxsim_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket candidates reranked by exact int8 MaxSim, flagged
    against the all-pairs MaxSim top-3."""
    from pyspark.sql import Window as W

    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf
    from milvus_cdc_spark.partitioning import widen_small_scan

    emb = _t(spark, sf_dir, "embeddings")
    bucket = F.concat(
        *[
            F.when(F.col("embedding")[i] >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(4)
        ]
    )
    codes = emb.select(
        "vec_id", _ms_subvectors().alias("sub"), bucket.alias("bucket")
    )
    queries = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("sub").alias("qsub"),
        F.col("bucket").alias("qbucket"),
    )
    # Same single-split trap as maxsim_multivector_topk: widen the
    # corpus side ahead of the 10-query MaxSim expansion.
    scored = similarity.search_pairs(
        widen_small_scan(codes, "vec_id"),
        queries,
        vecf.maxsim_i64(F.col("qsub"), F.col("sub")).alias("maxsim"),
        (F.col("bucket") == F.col("qbucket")).alias("is_cand"),
    )
    # ONE window pass over ONE scoring scan: the all-pairs MaxSim is the
    # expensive stage (n × q pairs × sub² int8 dot products), and the
    # original two-consumer shape (exact-top3 window + candidate-rank
    # window + self-join) recomputed it twice. Over the same
    # (query_id, maxsim desc) sort, the global row_number gives the
    # exact-top3 recall flag and a running count of candidate rows gives
    # each candidate's rank among candidates — no second scan, no join.
    w = W.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id")
    )
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        scored.withColumn("rn_all", F.row_number().over(w))
        .withColumn(
            "cand_rank",
            F.sum(F.col("is_cand").cast("int")).over(run),
        )
        .filter(F.col("is_cand") & (F.col("cand_rank") <= 3))
        .select(
            "query_id",
            F.col("cand_rank").cast("int").alias("rank"),
            "neighbor_id",
            "maxsim",
            (F.col("rn_all") <= 3).cast("int").alias("in_exact_top3"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — the tokenizer-budget decision: for each
# candidate vocab size N, what share of corpus TOKENS the top-N
# frequency-ranked terms cover (1 - coverage = OOV/byte-fallback
# rate). Term ranks come from distributed_row_number over
# (freq desc, term) — the same no-global-sort machinery vocab_build
# uses, because a 100 TB corpus has 10^7-10^8 distinct terms. Pairs
# with context_length_histogram as the pre-tokenizer planning report.
# ---------------------------------------------------------------------------

_VC_SIZES = (256, 1024, 4096)


@q(
    "vocab_coverage_curve",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKS}) AS term FROM documents
    ),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks
             GROUP BY term),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rnk FROM freq
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ranked),
    sizes AS (SELECT unnest([{", ".join(str(n) for n in _VC_SIZES)}])
              AS vocab_size)
    SELECT s.vocab_size,
           CAST(sum(CASE WHEN r.rnk <= s.vocab_size THEN r.c ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           (SELECT t FROM tot) AS total_tokens,
           CAST(sum(CASE WHEN r.rnk <= s.vocab_size THEN r.c ELSE 0 END)
                * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS coverage_ppm
    FROM sizes s, ranked r
    GROUP BY s.vocab_size
    ORDER BY s.vocab_size
    """,
    "llm",
    "vocab",
    "tokenizer",
    "planning",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token coverage (ppm) of the top-N frequency-ranked terms
    for candidate vocab sizes, ranks via distributed_row_number."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(textf.tokens(F.lower(F.col("text")))).alias("term")
    )
    freq = toks.groupBy("term").agg(F.count("*").cast("bigint").alias("c"))
    ranked = windows.distributed_row_number(
        freq.select(F.col("term"), F.col("c"), (-F.col("c")).alias("negc")),
        ["negc", "term"],
        rank_col="rnk",
    )
    tot = ranked.agg(F.sum("c").cast("bigint").alias("t"))
    sizes = _local_frame(docs.sparkSession, 
        [(n,) for n in _VC_SIZES], "vocab_size int"
    )
    covered = (
        F.broadcast(sizes)
        .join(ranked, F.col("rnk") <= F.col("vocab_size"), "left")
        .groupBy("vocab_size")
        .agg(F.sum("c").cast("bigint").alias("covered_tokens"))
    )
    return (
        covered.crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered_tokens",
            F.col("t").alias("total_tokens"),
            F.expr("covered_tokens * 1000000 DIV t")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("vocab_size")
    )


# ---------------------------------------------------------------------------
# Label-centroid distance matrix — embedding-space geometry check
# (which classes collide, which separate — the confusion-risk map for
# the kNN/ANN eval family). Centroids in integer micro-units
# (per-dim sum*1e6 DIV n — floor division on non-negative sums after
# a sign-split guard is avoided by scaling the raw per-row values
# first, the PCA query's contract), then SQUARED L2 between centroid
# pairs — exact BIGINT end-to-end, no sqrt, no float.
# ---------------------------------------------------------------------------

_LC_DIMS = 8


@q(
    "label_centroid_distances",
    f"""
    WITH vals AS (
      SELECT label,
             {", ".join(
                 f"CAST(floor(embedding[{k + 1}] * 1e6 + 0.5) AS BIGINT)"
                 f" AS v{k}" for k in range(_LC_DIMS))}
      FROM embeddings
    ),
    cent AS (
      SELECT label,
             {", ".join(
                 _ssdiv(f"sum(v{k})", "count(*)", "//") + f" AS c{k}"
                 for k in range(_LC_DIMS))}
      FROM vals GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST({" + ".join(
               f"(a.c{k} - b.c{k}) * (a.c{k} - b.c{k})"
               for k in range(_LC_DIMS))} AS BIGINT) AS sq_l2_micro
    FROM cent a JOIN cent b ON a.label < b.label
    ORDER BY label_a, label_b
    """,
    "vector",
    "eval",
    "centroid",
    "geometry",
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared-L2 distances between per-label centroids over
    the first 8 embedding dims — exact integer micro-units."""
    emb = _t(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        *[
            F.floor(F.col("embedding")[k].cast("double") * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias(f"v{k}")
            for k in range(_LC_DIMS)
        ],
    )
    # sign-split division rendered as a SQL expr for exact parity
    cent = vals.groupBy("label").agg(
        *[
            F.expr(
                f"CASE WHEN sum(v{k}) < 0 "
                f"THEN -((-sum(v{k})) DIV count(*)) "
                f"ELSE sum(v{k}) DIV count(*) END"
            ).alias(f"c{k}")
            for k in range(_LC_DIMS)
        ]
    )
    a, b = cent.alias("a"), cent.alias("b")
    sq = None
    for k in range(_LC_DIMS):
        d = F.col(f"a.c{k}") - F.col(f"b.c{k}")
        sq = d * d if sq is None else sq + d * d
    return (
        a.join(b, F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            sq.cast("bigint").alias("sq_l2_micro"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# Token-concentration Lorenz points: split docs into exact global
# length deciles (distributed_ntile — no single-task sort) and report
# each decile's token share plus the cumulative share — "the longest
# 10% of documents hold X% of the corpus tokens", the inequality
# diagnostic that decides whether length capping / doc splitting is
# worth a pipeline stage. Integer ppm throughout.
# ---------------------------------------------------------------------------


@q(
    "length_lorenz_points",
    f"""
    WITH tc AS (
      SELECT doc_id, n_chars, len({_SQL_TOKS}) AS n_toks FROM documents
    ),
    tiled AS (
      SELECT n_toks,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM tc
    ),
    per AS (
      SELECT decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS toks
      FROM tiled GROUP BY decile
    ),
    tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM per)
    SELECT CAST(decile AS INT) AS decile, n_docs, toks,
           CAST(toks * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS tok_share_ppm,
           CAST(sum(toks) OVER (
                  ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) * 1000000 // (SELECT t FROM tot) AS BIGINT)
             AS cum_tok_ppm
    FROM per
    ORDER BY decile
    """,
    "llm",
    "distribution",
    "lorenz",
    "planning",
)
def length_lorenz_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per length-decile token share and cumulative share (ppm) —
    exact global deciles via distributed_ntile."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(textf.tokens(F.lower(F.col("text")))).alias("n_toks"),
    )
    tiled = windows.distributed_ntile(
        docs, 10, ["n_chars", "doc_id"], tile_col="decile"
    )
    per = tiled.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("toks"),
    )
    cum = windows.distributed_prefix_sum(
        per, [F.col("decile")], "toks", out_col="cum_toks", inclusive=True
    )
    tot = per.agg(F.sum("toks").cast("bigint").alias("t"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_docs",
            "toks",
            F.expr("toks * 1000000 DIV t")
            .cast("bigint")
            .alias("tok_share_ppm"),
            F.expr("cum_toks * 1000000 DIV t")
            .cast("bigint")
            .alias("cum_tok_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster density: per component, verified-pair edges vs
# possible pairs (ppm). Density ~1e6 means every member directly
# resembles every other (true duplicate set); low density flags
# CHAIN-linked clusters — A~B~C with A!~C — where transitive dedup
# over-merges and a second verification pass or a higher threshold is
# warranted. The standard audit before trusting connected components
# as dedup groups.
# ---------------------------------------------------------------------------


def _cluster_density_oracle() -> str:
    from milvus_cdc_spark.suite import _ORACLE_NEAR_DUP_PAIRS_CTE

    return (
        _ORACLE_NEAR_DUP_PAIRS_CTE
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
    csize AS (
      SELECT component, CAST(count(*) AS BIGINT) AS n_members
      FROM comp GROUP BY component
    ),
    cedges AS (
      SELECT ca.component, CAST(count(*) AS BIGINT) AS n_edges
      FROM strong s
      JOIN comp ca ON ca.node = s.a
      GROUP BY ca.component
    )
    SELECT s.component, s.n_members,
           coalesce(e.n_edges, 0) AS n_edges,
           CAST(s.n_members * (s.n_members - 1) / 2 AS BIGINT)
             AS possible_pairs,
           CAST(coalesce(e.n_edges, 0) * 1000000
                // (s.n_members * (s.n_members - 1) / 2) AS BIGINT)
             AS density_ppm
    FROM csize s LEFT JOIN cedges e ON e.component = s.component
    ORDER BY s.component
    """
    ).replace("WITH base AS (", "WITH RECURSIVE base AS (", 1)


@q(
    "cluster_density_report",
    _cluster_density_oracle(),
    "dedup",
    "clustering",
    "audit",
    "llm",
)
def cluster_density_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup component: verified edges vs possible pairs in ppm
    — the chain-link over-merge audit."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    # strong feeds TWO consumers (the components iteration AND the
    # per-component edge count) — persist so the band-join + Jaccard
    # verify runs once, not once per consumer. Measured ~2x on this
    # query at sf0.1.
    strong = cache(dedup.near_dup_pipeline(docs, k=8, bands=4).filter(
        F.col("jaccard") >= 0.2
    ))
    comp = dedup.connected_components(strong, shuffle_partitions=8)
    csize = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    cedges = (
        strong.join(
            comp.select(F.col("node").alias("a"), "component"), "a"
        )
        .groupBy("component")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )
    return (
        csize.join(cedges, "component", "left")
        .select(
            "component",
            "n_members",
            F.coalesce(F.col("n_edges"), F.lit(0))
            .cast("bigint")
            .alias("n_edges"),
            F.expr("n_members * (n_members - 1) DIV 2")
            .cast("bigint")
            .alias("possible_pairs"),
            F.expr(
                "coalesce(n_edges, 0) * 1000000 "
                "DIV (n_members * (n_members - 1) DIV 2)"
            )
            .cast("bigint")
            .alias("density_ppm"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Where does duplication LIVE? Verified near-dup pairs rolled up to
# (source_a, source_b) — within-source counts on the diagonal flag
# crawl-level re-fetch; cross-source counts flag mirror/syndication
# relationships, which decide whether dedup keys on source boundaries
# or must stay corpus-global. Canonical unordered source pair.
# ---------------------------------------------------------------------------


def _source_pair_oracle() -> str:
    from milvus_cdc_spark.suite import _ORACLE_NEAR_DUP_PAIRS_CTE

    return (
        _ORACLE_NEAR_DUP_PAIRS_CTE
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
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM strong s
      JOIN documents da ON da.doc_id = s.a
      JOIN documents db ON db.doc_id = s.b
    )
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN source_a = source_b THEN 1 ELSE 0 END AS INT)
             AS within_source
    FROM labeled
    GROUP BY source_a, source_b
    ORDER BY n_pairs DESC, source_a, source_b
    """
    )


@q(
    "source_dedup_matrix",
    _source_pair_oracle(),
    "dedup",
    "provenance",
    "llm",
)
def source_dedup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair counts per unordered source pair —
    within-source vs cross-source duplication concentration."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    strong = dedup.near_dup_pipeline(docs, k=8, bands=4).filter(
        F.col("jaccard") >= 0.2
    )
    src = docs.select("doc_id", "source")
    labeled = (
        strong.join(
            src.select(F.col("doc_id").alias("a"), F.col("source").alias("sa")),
            "a",
        )
        .join(
            src.select(F.col("doc_id").alias("b"), F.col("source").alias("sb")),
            "b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") == F.col("source_b"))
            .cast("int")
            .alias("within_source"),
        )
        .orderBy(F.col("n_pairs").desc(), "source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Character-level Simpson concentration: an integer-exact stand-in for
# character-entropy quality scoring (low-entropy == gibberish/repetition,
# the C4/Gopher-family signal family). Simpson's index sum(p_i^2) over a
# doc's character distribution needs NO transcendental math — unlike
# Shannon entropy it keeps the repo's portable-math contract (pure
# BIGINT algebra, DIV on non-negative operands), so Spark and DuckDB
# agree bit-for-bit. Scale shape: the per-doc score is ONE O(len)
# in-row fold (array_sort + run-length sum-of-squares via F.aggregate —
# no per-char explode, no shuffle); the only exchange is the final
# per-source aggregate, keyed by a catalog-sized column.
# ---------------------------------------------------------------------------


@q(
    "char_diversity_quality",
    """
    WITH d AS (
      SELECT doc_id, source, lower(text) AS t
      FROM documents WHERE length(text) > 0
    ),
    ch AS (
      SELECT doc_id, source, unnest(string_split(t, '')) AS c FROM d
    ),
    cnt AS (
      SELECT doc_id, source, c, count(*)::BIGINT AS n
      FROM ch GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT doc_id, source, sum(n * n)::BIGINT AS sumsq,
             sum(n)::BIGINT AS len
      FROM cnt GROUP BY 1, 2
    ),
    scored AS (
      SELECT source, (sumsq * 1000000) // (len * len) AS conc_ppm FROM per
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(CASE WHEN conc_ppm > 85000 THEN 1 ELSE 0 END)::BIGINT
             AS n_concentrated,
           (sum(conc_ppm) // count(*))::BIGINT AS avg_conc_ppm,
           min(conc_ppm)::BIGINT AS min_conc_ppm,
           max(conc_ppm)::BIGINT AS max_conc_ppm
    FROM scored GROUP BY source ORDER BY source
    """,
    "llm",
    "quality",
    "text",
    "pipeline",
)
def char_diversity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-concentration profile: Simpson index
    sum(c_i^2)*1e6 DIV len^2 over each doc's character counts (lowered
    text), flagging docs above 85,000 ppm as repetition-concentrated.

    The per-doc score is computed WITHOUT exploding characters: sort
    the char array once, then a single run-length fold accumulates the
    sum of squared run lengths in-row (state = (prev char, run length,
    acc)). That keeps the corpus-sized stage shuffle-free — at 100 TB
    the chars-exploded variant would shuffle ~5x the token count, while
    this shape ships only one (source, conc_ppm) row per doc into the
    final catalog-keyed aggregate.
    """
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = F.array_sort(F.split(F.lower(F.col("text")), ""))
    zero = F.struct(
        F.lit("").alias("p"),
        F.lit(0).cast("long").alias("r"),
        F.lit(0).cast("long").alias("s"),
    )
    sumsq = F.aggregate(
        chars,
        zero,
        lambda st, c: F.when(
            c == st["p"],
            F.struct(
                st["p"].alias("p"),
                (st["r"] + F.lit(1)).alias("r"),
                st["s"].alias("s"),
            ),
        ).otherwise(
            F.struct(
                c.alias("p"),
                F.lit(1).cast("long").alias("r"),
                (st["s"] + st["r"] * st["r"]).alias("s"),
            )
        ),
        lambda st: st["s"] + st["r"] * st["r"],
    )
    scored = docs.select(
        "source",
        sumsq.alias("sumsq"),
        F.length("text").cast("long").alias("len"),
    ).select(
        "source",
        F.expr("sumsq * 1000000 DIV (len * len)").alias("conc_ppm"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("conc_ppm") > 85000).cast("bigint"))
            .cast("bigint")
            .alias("n_concentrated"),
            F.expr("sum(conc_ppm) DIV count(*)")
            .cast("bigint")
            .alias("avg_conc_ppm"),
            F.min("conc_ppm").cast("bigint").alias("min_conc_ppm"),
            F.max("conc_ppm").cast("bigint").alias("max_conc_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Lexical-diversity profile: type-token ratio + hapax-legomenon share
# per source — the vocabulary-growth (Heaps-law) quality family. A
# template-generated or boilerplate-heavy source shows a LOW TTR and a
# low hapax share (few one-off words); a diverse natural corpus shows
# high shares of both. Pure BIGINT algebra (counts and DIV), portable
# bit-for-bit. Scale shape: one token explode -> groupBy(source, tok)
# (map-side-combinable; shuffle keyed by the token vocab, which grows
# sublinearly) -> catalog-keyed per-source aggregate.
# ---------------------------------------------------------------------------


@q(
    "lexical_diversity_ttr",
    f"""
    WITH t AS (
      SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    cnt AS (
      SELECT source, tok, count(*)::BIGINT AS n FROM t GROUP BY 1, 2
    )
    SELECT source,
           count(*)::BIGINT AS n_types,
           sum(n)::BIGINT AS n_tokens,
           sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
           (count(*) * 1000000 // sum(n))::BIGINT AS ttr_ppm,
           (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
              // count(*))::BIGINT AS hapax_ppm
    FROM cnt GROUP BY source ORDER BY source
    """,
    "llm",
    "quality",
    "text",
    "pipeline",
)
def lexical_diversity_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type-token ratio and hapax share in integer ppm:
    n_types distinct tokens, n_tokens total, n_hapax tokens occurring
    exactly once in the source; ttr = types/tokens, hapax = hapax/types.
    """
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    cnt = toks.groupBy("source", "tok").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        cnt.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum((F.col("n") == 1).cast("bigint"))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "n_types",
            "n_tokens",
            "n_hapax",
            F.expr("n_types * 1000000 DIV n_tokens")
            .cast("bigint")
            .alias("ttr_ppm"),
            F.expr("n_hapax * 1000000 DIV n_types")
            .cast("bigint")
            .alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token burstiness (dispersion index): variance-to-mean ratio of a
# token's per-document counts over the WHOLE corpus (zeros included —
# algebraically, via N, sum(c), sum(c^2), so no dense zero-fill is ever
# materialized). A token with VMR >> 1 concentrates in few documents —
# the signature of boilerplate blocks, templated spans, and topic-spam;
# VMR ~ 1 is Poisson-like background. Complements chi2_token_source
# (token-vs-SOURCE association): burstiness is per-DOCUMENT clumping,
# source-agnostic. Integer-exact: population variance/mean reduces to
# (N*sumsq - tot^2) * 1e6 DIV (N * tot) — non-negative by
# Cauchy-Schwarz. Scale shape: explode -> (tok, doc) counts -> per-tok
# moments (both map-side-combinable) -> one scalar_augment cross with
# the 1-row corpus count -> TakeOrderedAndProject top-k.
# ---------------------------------------------------------------------------


@q(
    "token_burstiness_topk",
    f"""
    WITH t AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
    ),
    cd AS (
      SELECT tok, doc_id, count(*)::BIGINT AS c FROM t GROUP BY 1, 2
    ),
    st AS (
      SELECT tok, sum(c)::BIGINT AS total_count,
             sum(c * c)::BIGINT AS sumsq,
             count(*)::BIGINT AS n_docs_with
      FROM cd GROUP BY tok
    ),
    nn AS (SELECT count(*)::BIGINT AS n FROM documents)
    SELECT tok, total_count, n_docs_with,
           ((nn.n * sumsq - total_count * total_count) * 1000000
              // (nn.n * total_count))::BIGINT AS vmr_ppm
    FROM st, nn
    WHERE total_count >= 30
    ORDER BY vmr_ppm DESC, tok
    LIMIT 15
    """,
    "llm",
    "quality",
    "text",
    "pipeline",
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 frequent tokens (>= 30 occurrences) by per-document
    dispersion index (variance-to-mean, ppm), zeros handled
    algebraically against the 1-row corpus count."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    cd = (
        docs.select(
            "doc_id",
            F.explode(textf.tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("tok", "doc_id")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    st = cd.groupBy("tok").agg(
        F.sum("c").cast("bigint").alias("total_count"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
        F.count("*").cast("bigint").alias("n_docs_with"),
    ).filter(F.col("total_count") >= 30)
    n = docs.agg(F.count("*").cast("bigint").alias("n"))
    return (
        st.crossJoin(F.broadcast(n))
        .select(
            "tok",
            "total_count",
            "n_docs_with",
            F.expr(
                "(n * sumsq - total_count * total_count) * 1000000 "
                "DIV (n * total_count)"
            )
            .cast("bigint")
            .alias("vmr_ppm"),
        )
        .orderBy(F.col("vmr_ppm").desc(), "tok")
        .limit(15)
    )
