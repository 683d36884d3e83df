"""ML-ops / corpus-analytics extensions: iterative graph scoring,
classifier-style embedding evaluation, fixed-size distinct sketches, and
spectral (PCA) prep — the remaining "what a training-data platform runs
nightly" surface on top of the dedup/mixing/quality families.

Every query follows the repo's portable-math contract (integer units,
sign-split division where operands can be negative, floats only in
single correctly-rounded final ops) so the DuckDB oracle matches
bit-for-bit at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.suite import _SQL_COSINE, _t, q
from milvus_cdc_spark.catalog import local_frame as _local_frame
from milvus_cdc_spark.operators import windows

# ---------------------------------------------------------------------------
# PageRank over the customer<->supplier trade graph. Corpus-curation
# relevance: link-based quality weighting (CommonCrawl harmonic
# centrality) is this exact shape — a fixed-iteration score flow over an
# edge list. Each iteration is ONE join+groupBy shuffle (the Pregel
# message step); the edge list builds once from orders |><| lineitem and
# persists. Integer parts-per-10^12 mass, all divisions non-negative, so
# floor (DuckDB //) and truncate (Spark DIV) agree — exact cross-engine.
# Final top-10 is TakeOrderedAndProject (no global sort materialized).
# ---------------------------------------------------------------------------

_PR_ITERS = 3
_PR_MASS = 10**12


def _pagerank_oracle() -> str:
    steps = []
    prev = "s0"
    for it in range(1, _PR_ITERS + 1):
        steps.append(
            f"""
    c{it} AS (
      SELECT e.dst AS node, CAST(sum(s.score // d.deg) AS BIGINT) AS incoming
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN {prev} s ON s.node = e.src
      GROUP BY e.dst
    ),
    s{it} AS (
      SELECT n2.node,
             CAST((15 * (SELECT base FROM b)
                   + 85 * coalesce(c{it}.incoming, 0)) // 100 AS BIGINT)
               AS score
      FROM nodes n2 LEFT JOIN c{it} ON c{it}.node = n2.node
    )"""
        )
        prev = f"s{it}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) = 1995
    ),
    edges AS (
      SELECT 'c' || CAST(ck AS VARCHAR) AS src,
             's' || CAST(sk AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 's' || CAST(sk AS VARCHAR), 'c' || CAST(ck AS VARCHAR)
      FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    b AS (SELECT CAST({_PR_MASS} // count(*) AS BIGINT) AS base FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    s0 AS (SELECT node, (SELECT base FROM b) AS score FROM nodes),{",".join(steps)}
    SELECT node, score FROM {prev}
    ORDER BY score DESC, node
    LIMIT 10
    """


@q(
    "pagerank_trade_graph",
    _pagerank_oracle(),
    "graph",
    "pagerank",
    "iterative",
    "llm",
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nodes of a {_PR_ITERS}-iteration integer PageRank over the
    symmetrized customer-supplier co-order graph."""
    from milvus_cdc_spark.analytics import graph

    # Range predicate, not year() == 1995: a raw-column comparison reaches
    # the parquet scan as a min/max row-group filter (PushedFilters), which
    # F.year(col) — a function over the column — never does. Same rows.
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    ck = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    sk = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = pairs.select(ck.alias("src"), sk.alias("dst")).union(
        pairs.select(sk.alias("src"), ck.alias("dst"))
    )
    scores = graph.pagerank(edges, n_iter=_PR_ITERS)
    return scores.orderBy(F.col("score").desc(), F.col("node")).limit(10)


# ---------------------------------------------------------------------------
# kNN label accuracy — the standard embedding-quality probe (kNN
# classifier over the labeled corpus, leave-one-out): 1-in-20 sampled
# query vectors, exact cosine 5-NN among the rest, majority vote
# (ties -> smallest label), per-class accuracy in integer basis points.
# The exact scored frame is the oracle-able baseline; at 100 TB the
# candidate generator swaps for the bucketed-ANN frame in
# analytics/similarity.py (identical downstream vote/accuracy algebra).
# ---------------------------------------------------------------------------


@q(
    "knn_label_accuracy",
    f"""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id % 20 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS neighbor_id, c.label AS n_label,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, true_label, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rn
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, n_label, count(*) AS c
      FROM ranked WHERE rn <= 5
      GROUP BY query_id, true_label, n_label
    ),
    winner AS (
      SELECT query_id, true_label, n_label AS pred_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY c DESC, n_label) AS vr
      FROM votes
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(10000 * sum(CASE WHEN pred_label = true_label
                                 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS accuracy_bp
    FROM winner WHERE vr = 1
    GROUP BY true_label
    ORDER BY label
    """,
    "vector",
    "evaluation",
    "knn",
    "llm",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN majority-vote accuracy per label class."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    nn = similarity.brute_force_topk(emb, queries, k=5)
    labeled = nn.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "n_label").agg(
        F.count("*").alias("c")
    )
    order = [F.col("c").desc(), F.col("n_label")]
    pred = windows.top_k(votes, "query_id", order, 1, rank="vr").select(
        "query_id", F.col("n_label").alias("pred_label")
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    hit = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(hit).cast("bigint").alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.expr("10000 * n_correct DIV n_queries")
            .cast("bigint")
            .alias("accuracy_bp"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct users — the fixed-size mergeable cardinality
# sketch (vs the repo's linear-counting bitmap, which is exact-small-
# range; HLL stays accurate at billions with the same 64 registers).
# Registers are md5-seeded -> bit-identical in both engines; the
# harmonic denominator is EXACT integer (2^30-scaled); only the final
# alpha*m^2*2^30 / denom divide is float, with the SAME Python-computed
# constant interpolated into both sides.
# ---------------------------------------------------------------------------

_HLL_M = 64


def _hll_oracle() -> str:
    from milvus_cdc_spark.analytics.sketches import hll_alpha_numerator

    rho_cases = " ".join(
        f"WHEN v >= {1 << (24 - k)} THEN {k}" for k in range(1, 25)
    )
    nib = (
        "(instr('0123456789abcdef', substring({h}, {i}, 1)) - 1)::BIGINT"
    )
    h_b = "md5('21:' || CAST(user_id AS VARCHAR))"
    h_v = "md5('23:' || CAST(user_id AS VARCHAR))"
    b_nibs = [nib.format(h=h_b, i=i) for i in (1, 2, 3)]
    v_nibs = [nib.format(h=h_v, i=i) for i in range(1, 7)]
    v_expr = v_nibs[0]
    for t in v_nibs[1:]:
        v_expr = f"({v_expr} * 16 + {t})"
    return f"""
    WITH hashed AS (
      SELECT (({b_nibs[0]} * 256 + {b_nibs[1]} * 16 + {b_nibs[2]})
              % {_HLL_M}) AS bucket,
             {v_expr} AS v
      FROM events
    ),
    rho AS (
      SELECT bucket, CASE {rho_cases} ELSE 25 END AS rho FROM hashed
    ),
    regs AS (SELECT bucket, max(rho) AS reg FROM rho GROUP BY bucket),
    folded AS (
      SELECT CAST(count(*) AS BIGINT) AS n_set,
             CAST(coalesce(sum(1::BIGINT << (30 - reg)), 0)
                  + ({_HLL_M} - count(*)) * {1 << 30} AS BIGINT)
               AS sum_scaled
      FROM regs
    )
    SELECT n_set, sum_scaled,
           round({hll_alpha_numerator(_HLL_M)!r} / sum_scaled, 2)
             AS estimate
    FROM folded
    """


@q(
    "hll_distinct_users",
    _hll_oracle(),
    "sketch",
    "hyperloglog",
    "distinct",
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(m=64) distinct-user estimate over the events stream."""
    from milvus_cdc_spark.analytics import sketches

    events = _t(spark, sf_dir, "events")
    regs = sketches.hll_registers(
        events.select(F.col("user_id").alias("item")), m=_HLL_M
    )
    return sketches.hll_estimate_frame(regs, m=_HLL_M)


# ---------------------------------------------------------------------------
# PCA top principal component: distributed exact-integer covariance of
# embedding dims 0-7 (the heavy 100 TB stage — one map-side-combined
# aggregate), then 4 power-method iterations on the 8x8 block.  The
# iteration is control-sized by construction (dim x dim, never data-
# sized) and stays in the lazy plan as 8-row joins. Every step is
# renormalized to integer 1e5 units via sign-split division, so both
# engines walk the identical integer sequence — no float drift ever.
# ---------------------------------------------------------------------------

_PCA_D = 8
_PCA_ITERS = 4
_PCA_VSCALE = 100000


def _ssdiv(x: str, d: str, op: str) -> str:
    """Sign-split integer division: truncation toward zero in BOTH
    engines (operands made non-negative before dividing)."""
    return (
        f"CASE WHEN {x} < 0 THEN -((-({x})) {op} ({d})) "
        f"ELSE ({x}) {op} ({d}) END"
    )


def _pca_oracle() -> str:
    d = _PCA_D
    q_cols = ", ".join(
        f"CAST(floor(embedding[{k + 1}] * 1e6 + 0.5) AS BIGINT) AS v{k}"
        for k in range(d)
    )
    mean_cols = ", ".join(
        _ssdiv(f"sum(v{k})", "count(*)", "//") + f" AS m{k}" for k in range(d)
    )
    pairs = [(i, j) for i in range(d) for j in range(i, d)]
    sums = ", ".join(
        f"CAST(sum((v{i} - m{i}) * (v{j} - m{j})) AS BIGINT) AS s{i}_{j}, "
        f"CAST(count(*) AS BIGINT) AS n{i}_{j}"
        if (i, j) == (0, 0)
        else f"CAST(sum((v{i} - m{i}) * (v{j} - m{j})) AS BIGINT) AS s{i}_{j}"
        for i, j in pairs
    )
    entries = []
    for i in range(d):
        for j in range(d):
            a, b = min(i, j), max(i, j)
            entries.append(
                f"({i}, {j}, "
                + _ssdiv(f"s{a}_{b}", "n0_0 * 1000000", "//")
                + ")"
            )
    v0_rows = ", ".join(f"({k}, {_PCA_VSCALE})" for k in range(d))
    steps = []
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        steps.append(
            f"""
    w{it} AS (
      SELECT c.i AS idx, CAST(sum(c.c2 * v.val) AS BIGINT) AS w
      FROM cmat c JOIN {prev} v ON v.idx = c.j GROUP BY c.i
    ),
    m{it} AS (SELECT max(abs(w)) AS ma FROM w{it}),
    v{it} AS (
      SELECT idx,
             CAST({_ssdiv(f"w * {_PCA_VSCALE}", "ma", "//")} AS BIGINT)
               AS val
      FROM w{it}, m{it}
    )"""
        )
        prev = f"v{it}"
    return f"""
    WITH qv AS (SELECT {q_cols} FROM embeddings),
    mn AS (SELECT {mean_cols} FROM qv),
    s AS (SELECT {sums} FROM qv CROSS JOIN mn),
    cmat AS (
      SELECT CAST(t.i AS INT) AS i, CAST(t.j AS INT) AS j,
             CAST(t.c2 AS BIGINT) AS c2
      FROM s, (VALUES {", ".join(entries)}) AS t(i, j, c2)
    ),
    v0 AS (SELECT CAST(t.idx AS INT) AS idx, CAST(t.val AS BIGINT) AS val
           FROM (VALUES {v0_rows}) AS t(idx, val)),{",".join(steps)}
    SELECT idx, val AS v_scaled FROM {prev} ORDER BY idx
    """


@q(
    "pca_power_iteration",
    _pca_oracle(),
    "vector",
    "pca",
    "spectral",
    "llm",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of embedding dims 0-7 after 4 integer
    power-method iterations (1e5-unit components)."""
    d = _PCA_D
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.select(
        *[
            F.floor(F.element_at("embedding", k + 1) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias(f"v{k}")
            for k in range(d)
        ]
    )
    mn = qv.agg(
        *[
            F.expr(_ssdiv(f"sum(v{k})", "count(*)", "DIV")).alias(f"m{k}")
            for k in range(d)
        ]
    )
    pairs = [(i, j) for i in range(d) for j in range(i, d)]
    centered = qv.crossJoin(F.broadcast(mn))
    sums = centered.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        *[
            F.sum(
                (F.col(f"v{i}") - F.col(f"m{i}"))
                * (F.col(f"v{j}") - F.col(f"m{j}"))
            )
            .cast("bigint")
            .alias(f"s{i}_{j}")
            for i, j in pairs
        ],
    )
    # The dim x dim block is CONTROL-SIZED at any corpus scale (like the
    # pipeline's touched-bucket list), so the power iteration runs as
    # exact Python-int arithmetic on the driver — the identical integer
    # sequence the oracle's unrolled CTEs walk — while the data-sized
    # covariance aggregate above stays fully distributed.
    row = sums.collect()[0].asDict()
    n_scale = row["n_rows"] * 1000000

    def tdiv(x: int, dd: int) -> int:
        # truncate-toward-zero == DuckDB // and Spark DIV on the
        # non-negative operands the sign-split produces
        return -((-x) // dd) if x < 0 else x // dd

    cmat = [
        [tdiv(row[f"s{min(i, j)}_{max(i, j)}"], n_scale) for j in range(d)]
        for i in range(d)
    ]
    v = [_PCA_VSCALE] * d
    for _ in range(_PCA_ITERS):
        w = [sum(cmat[i][j] * v[j] for j in range(d)) for i in range(d)]
        ma = max(abs(x) for x in w)
        v = [tdiv(x * _PCA_VSCALE, ma) for x in w]
    return _local_frame(spark, 
        [(i, v[i]) for i in range(d)], "idx int, v_scaled bigint"
    ).orderBy("idx")


# ---------------------------------------------------------------------------
# Probability-proportional-to-size document sampling (priority/PPS
# sampling, Duffield et al. CACM 2007 shape): every doc draws a
# deterministic md5 uniform and is kept iff u < k * w * 1e6 // W — the
# inclusion-probability form of weighted sampling, evaluated as a pure
# column predicate (map-side, no shuffle before the per-source rollup).
# The corpus total W broadcasts as a 1-row frame. All operands
# non-negative BIGINT -> exact in both engines. At 100 TB the u*W
# comparison form would overflow; the divided threshold keeps every
# intermediate <= k * w * 1e6.
# ---------------------------------------------------------------------------

_PPS_K = 200


def _sql_md5_ppm(seed: str, key: str) -> str:
    """First six md5 nibbles of '<seed>:' || key as an integer, mod 1e6 —
    the portable uniform in [0, 1e6)."""
    h = f"md5('{seed}:' || CAST({key} AS VARCHAR))"
    nibs = [
        f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1)::BIGINT"
        for i in range(1, 7)
    ]
    v = nibs[0]
    for t in nibs[1:]:
        v = f"({v} * 16 + {t})"
    return f"({v} % 1000000)"


@q(
    "weighted_doc_sample",
    f"""
    WITH w AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
    gated AS (
      SELECT d.source, d.n_chars,
             {_sql_md5_ppm("ws", "d.doc_id")} AS u
      FROM documents d
    )
    SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(g.n_chars) AS BIGINT) AS chars_sampled
    FROM gated g, w
    WHERE g.u < {_PPS_K} * g.n_chars * 1000000 // w.total
    GROUP BY g.source
    ORDER BY g.source
    """,
    "llm",
    "sampling",
    "pps",
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS sample (~{_PPS_K} expected docs, probability proportional to
    n_chars): per-source kept counts and byte mass."""
    docs = _t(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars").cast("bigint").alias("total"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    gated = docs.select(
        "source", "n_chars", u.alias("u")
    ).crossJoin(F.broadcast(total))
    return (
        gated.filter(
            F.col("u")
            < F.expr(f"{_PPS_K} * n_chars * 1000000 DIV total")
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("chars_sampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-source quantile normalization: map each source's length-score
# distribution onto the global one (the classic per-domain score
# calibration step before mixing corpora scored by different raters).
# Everything runs on the bucketized HISTOGRAM — a (source x 16)-row
# control-sized frame at any corpus scale — so the windows ride tiny
# partitions; only the histogram build touches the corpus (one
# map-side-combined aggregate). Integer ppm CDFs; the mapped bucket is
# the smallest global bucket whose CDF covers the source CDF.
# ---------------------------------------------------------------------------


@q(
    "quality_quantile_normalize",
    """
    WITH h AS (
      SELECT source, least(CAST(n_chars // 64 AS INT), 15) AS bucket,
             count(*) AS c
      FROM documents GROUP BY source, least(CAST(n_chars // 64 AS INT), 15)
    ),
    src AS (
      SELECT source, bucket,
             CAST(1000000 * sum(c) OVER (PARTITION BY source ORDER BY bucket)
                  // sum(c) OVER (PARTITION BY source) AS BIGINT) AS cdf_ppm
      FROM h
    ),
    g AS (
      SELECT bucket,
             CAST(1000000 * sum(c) OVER (ORDER BY bucket)
                  // sum(c) OVER () AS BIGINT) AS g_cdf_ppm
      FROM (SELECT bucket, sum(c) AS c FROM h GROUP BY bucket)
    )
    SELECT s.source, s.bucket, s.cdf_ppm,
           CAST(min(g.bucket) AS INT) AS mapped_bucket
    FROM src s JOIN g ON g.g_cdf_ppm >= s.cdf_ppm
    GROUP BY s.source, s.bucket, s.cdf_ppm
    ORDER BY s.source, s.bucket
    """,
    "llm",
    "calibration",
    "quantile",
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 16-bucket length CDF (ppm) + its global-quantile
    remapping."""
    docs = _t(spark, sf_dir, "documents")
    h = docs.groupBy(
        "source",
        F.least(F.expr("CAST(n_chars DIV 64 AS INT)"), F.lit(15)).alias(
            "bucket"
        ),
    ).agg(F.count("*").alias("c"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    src = h.select(
        "source",
        "bucket",
        F.expr("1000000").cast("bigint").alias("_m"),
        F.sum("c").over(w_cum).alias("_cum"),
        F.sum("c").over(w_tot).alias("_tot"),
    ).select(
        "source",
        "bucket",
        F.expr("_m * _cum DIV _tot").cast("bigint").alias("cdf_ppm"),
    )
    gh = h.groupBy("bucket").agg(F.sum("c").alias("c"))
    wg_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wg_tot = Window.partitionBy()
    g = gh.select(
        F.col("bucket").alias("g_bucket"),
        F.sum("c").over(wg_cum).alias("_cum"),
        F.sum("c").over(wg_tot).alias("_tot"),
    ).select(
        "g_bucket",
        F.expr("1000000 * _cum DIV _tot").cast("bigint").alias("g_cdf_ppm"),
    )
    return (
        src.join(
            F.broadcast(g), F.col("g_cdf_ppm") >= F.col("cdf_ppm")
        )
        .groupBy("source", "bucket", "cdf_ppm")
        .agg(F.min("g_bucket").cast("int").alias("mapped_bucket"))
        .orderBy("source", "bucket")
    )


# ---------------------------------------------------------------------------
# Compaction bin-packing (Milvus mix-compaction planning: merge small
# segments up to a target size — datacoord's compaction policy shape).
# Segments here are (source, doc_id DIV 50) groups; the PLAN is pure
# metadata work: one row per segment (1 row per ~512 MB at production
# sizes — control-plane-sized like the positions listing), packed
# contiguously by cumulative byte offset DIV target. The corpus is
# touched only by the segment-stats aggregate.
# ---------------------------------------------------------------------------


@q(
    "compaction_bin_packing",
    """
    WITH seg AS (
      SELECT source, CAST(doc_id // 50 AS BIGINT) AS seg_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS bytes
      FROM documents GROUP BY source, doc_id // 50
    ),
    placed AS (
      SELECT source, seg_id, n_docs, bytes,
             CAST((sum(bytes) OVER (PARTITION BY source ORDER BY seg_id)
                   - bytes) // 16384 AS BIGINT) AS bin
      FROM seg
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(bytes) AS BIGINT) AS bytes
    FROM placed
    GROUP BY source, bin
    ORDER BY source, bin
    """,
    "cdc",
    "compaction",
    "planning",
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge plan: segments packed into ~16 KB target bins per source by
    cumulative byte offset."""
    docs = _t(spark, sf_dir, "documents")
    seg = docs.groupBy(
        "source", F.expr("CAST(doc_id DIV 50 AS BIGINT)").alias("seg_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("bytes"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("seg_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = seg.select(
        "source",
        "seg_id",
        "n_docs",
        "bytes",
        (F.sum("bytes").over(w) - F.col("bytes")).alias("_offset"),
    ).select(
        "source",
        "seg_id",
        "n_docs",
        "bytes",
        F.expr("_offset DIV 16384").cast("bigint").alias("bin"),
    )
    return (
        placed.groupBy("source", "bin")
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("bytes").cast("bigint").alias("bytes"),
        )
        .orderBy("source", "bin")
    )


# ---------------------------------------------------------------------------
# PMI collocation mining (pointwise mutual information over adjacent
# token pairs — the classic phrase-detection pass before tokenizer /
# embedding training, Mikolov et al. 2013 §4). The PMI exponent
# e^PMI = P(xy)/(P(x)P(y)) is kept as an EXACT integer lift in
# thousandths — c_xy * N * 1000 // (c_x * c_y) — so no log and no float
# ever enters; ranking by lift is ranking by PMI (log is monotone).
# Shapes: token/bigram counts are groupBys with map-side combine; the
# final top-10 is TakeOrderedAndProject.
# ---------------------------------------------------------------------------


@q(
    "pmi_collocations",
    """
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
    big AS (
      SELECT a.tok AS w1, b.tok AS w2, count(*) AS c_xy
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY a.tok, b.tok
    ),
    n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_big FROM big),
    uni AS (
      SELECT w1 AS w, CAST(sum(c_xy) AS BIGINT) AS c FROM big GROUP BY w1
    ),
    uni2 AS (
      SELECT w2 AS w, CAST(sum(c_xy) AS BIGINT) AS c FROM big GROUP BY w2
    ),
    scored AS (
      SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS c_xy,
             CAST(b.c_xy * n.n_big * 1000 // (u1.c * u2.c) AS BIGINT)
               AS lift_milli
      FROM big b
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni2 u2 ON u2.w = b.w2
      CROSS JOIN n
      WHERE b.c_xy >= 5
    )
    SELECT w1, w2, c_xy, lift_milli
    FROM scored
    ORDER BY lift_milli DESC, w1, w2
    LIMIT 10
    """,
    "llm",
    "collocations",
    "pmi",
    "text",
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 adjacent-token collocations by integer PMI lift
    (c_xy >= 5). Unigram marginals are taken over bigram SLOTS (left
    occurrences for w1, right for w2) so the contingency sums are
    self-consistent."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    # bigrams zip in-row from the token array (same pairing shape as
    # corpus.bigram_logprob) — no per-token window before the count
    base = docs.select(
        "doc_id", textf.tokens(F.lower(F.col("text"))).alias("_toks")
    )
    arr = F.col("_toks")
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        base.select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
    )
    n = big.agg(F.sum("c_xy").cast("bigint").alias("n_big"))
    uni = big.groupBy(F.col("w1").alias("w")).agg(
        F.sum("c_xy").cast("bigint").alias("c1")
    )
    uni2 = big.groupBy(F.col("w2").alias("w")).agg(
        F.sum("c_xy").cast("bigint").alias("c2")
    )
    scored = (
        big.filter(F.col("c_xy") >= 5)
        .join(uni, big["w1"] == uni["w"])
        .drop("w")
        .join(uni2, big["w2"] == uni2["w"])
        .drop("w")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.expr("c_xy * n_big * 1000 DIV (c1 * c2)")
            .cast("bigint")
            .alias("lift_milli"),
        )
    )
    return scored.orderBy(
        F.col("lift_milli").desc(), "w1", "w2"
    ).limit(10)


# ---------------------------------------------------------------------------
# k-core decomposition rounds (iterative degree pruning — the spam/-
# isolate-filtering pass link-analysis pipelines run before centrality
# scoring). Fixed 3 rounds of "drop nodes with degree < k" over the
# symmetrized trade graph; each round is one degree groupBy + two
# semi-joins (edge list against surviving nodes) — all shuffles bounded
# by the shrinking edge list. Emits the shrinking (nodes, edges) per
# round; edge counts are DIRECTED rows (symmetric pairs count twice).
# ---------------------------------------------------------------------------

_KCORE_K = 4
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    steps = []
    prev = "e0"
    out_rows = []
    for r in range(1, _KCORE_ROUNDS + 1):
        steps.append(
            f"""
    alive{r} AS (
      SELECT src AS node FROM {prev} GROUP BY src
      HAVING count(*) >= {_KCORE_K}
    ),
    e{r} AS (
      SELECT e.src, e.dst FROM {prev} e
      JOIN alive{r} a ON a.node = e.src
      JOIN alive{r} b ON b.node = e.dst
    )"""
        )
        out_rows.append(
            f"SELECT {r} AS round,"
            f" (SELECT count(*) FROM alive{r}) AS n_nodes,"
            f" (SELECT count(*) FROM e{r}) AS n_edges"
        )
        prev = f"e{r}"
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE year(o_orderdate) = 1995
    ),
    e0 AS (
      SELECT 'c' || CAST(ck AS VARCHAR) AS src,
             's' || CAST(sk AS VARCHAR) AS dst FROM pairs
      UNION ALL
      SELECT 's' || CAST(sk AS VARCHAR), 'c' || CAST(ck AS VARCHAR)
      FROM pairs
    ),{",".join(steps)}
    SELECT CAST(round AS INT) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM ({" UNION ALL ".join(out_rows)})
    ORDER BY round
    """


@q(
    "kcore_prune_rounds",
    _kcore_oracle(),
    "graph",
    "kcore",
    "iterative",
)
def kcore_prune_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes/edges surviving each of 3 rounds of degree->=-4 pruning on
    the 1995 trade graph.

    Iteration state is EAGER ``localCheckpoint`` per round, not
    ledger persists (``cache_registry.cache``): localCheckpoint both
    truncates the per-round lineage (no exponential recompute across
    rounds) and scopes the blocks to the returned DataFrame — the
    ContextCleaner reclaims them when the caller drops the result, with
    no ledger to drain. The FINAL
    round's frames stay lazy so the returned plan keeps the real
    join/aggregate shape (the Lloyd-iteration pattern, SCALE.md §5l);
    its ``alive`` re-derives from the checkpointed previous edge list
    (≤3 cheap aggregates over the smallest, fully-pruned frame). On a
    cluster, localCheckpoint trades replication for lineage truncation:
    an executor loss fails-and-reruns the query, acceptable for a
    3-round convergence report.
    """
    # Range predicate, not year() == 1995: a raw-column comparison reaches
    # the parquet scan as a min/max row-group filter (PushedFilters), which
    # F.year(col) — a function over the column — never does. Same rows.
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    ck = F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
    sk = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    e = pairs.select(ck.alias("src"), sk.alias("dst")).union(
        pairs.select(sk.alias("src"), ck.alias("dst"))
    ).localCheckpoint()
    out = []
    for r in range(1, _KCORE_ROUNDS + 1):
        final = r == _KCORE_ROUNDS
        # alive is materialized per round: it feeds two joins AND the
        # n_nodes count below — and counting it directly mirrors the
        # oracle's `count(alive_r)` by construction (an alive node that
        # lost every edge still counts), where a count_distinct(src)
        # over the pruned edge list would both diverge on that case and
        # pay a second wide aggregate per round.
        alive = (
            e.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
        )
        if not final:
            alive = alive.localCheckpoint()
        e = (
            e.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .select("src", "dst")
        )
        if not final:
            e = e.localCheckpoint()
        counts = alive.agg(
            F.lit(r).cast("int").alias("round"),
            F.count("*").cast("bigint").alias("n_nodes"),
        ).crossJoin(e.agg(F.count("*").cast("bigint").alias("n_edges")))
        out.append(counts)
    res = out[0]
    for f in out[1:]:
        res = res.unionByName(f)
    return res.orderBy("round")


# ---------------------------------------------------------------------------
# Cross-source shingle-overlap matrix (the contamination check run
# between corpus SOURCES before mixing — ngram_decontamination's
# train/eval version generalized to all pairs). Shingles travel as
# 16-byte md5 keys (the repo's count-key contract: the shuffle never
# carries shingle text); per-shingle source lists are bounded by the
# source catalog, so the within-shingle pair join is |sources|^2-bounded
# per key — never corpus-quadratic. Output is the (source x source)
# matrix in exact integer ppm.
# ---------------------------------------------------------------------------


@q(
    "source_overlap_matrix",
    """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, pos, toks[pos] AS tok, len(toks) AS n FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           t -> t != '') AS toks,
               unnest(generate_series(1, len(list_filter(
                 string_split_regex(trim(lower(text)), '\\s+'),
                 t -> t != '')))) AS pos
        FROM documents
      )
    ),
    sh AS (
      SELECT DISTINCT a.source,
             md5(a.tok || ' ' || b.tok || ' ' || c.tok) AS k
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
    ),
    per_src AS (SELECT source, count(*) AS c FROM sh GROUP BY source),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b,
             count(*) AS n_shared
      FROM sh x JOIN sh y ON x.k = y.k AND x.source < y.source
      GROUP BY x.source, y.source
    )
    SELECT i.source_a, i.source_b,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(i.n_shared * 1000000 // (a.c + b.c - i.n_shared) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN per_src a ON a.source = i.source_a
    JOIN per_src b ON b.source = i.source_b
    ORDER BY source_a, source_b
    """,
    "llm",
    "contamination",
    "overlap",
    "dedup",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram Jaccard (ppm) between corpus sources."""
    from milvus_cdc_spark.analytics import dedup

    docs = _t(spark, sf_dir, "documents")
    # the per-source shingle set feeds THREE consumers (both pair sides
    # + the per-source counts) — persist so the shingle explode and its
    # distinct shuffle run once
    sh = cache(
        dedup.shingle_rows(docs, n=3)
        .join(F.broadcast(docs.select("doc_id", "source")), "doc_id")
        .select("source", F.md5(F.col("s")).alias("k"))
        .distinct()
    )
    per_src = sh.groupBy("source").agg(F.count("*").alias("c"))
    x = sh.select(F.col("source").alias("source_a"), "k")
    y = sh.select(F.col("source").alias("source_b"), "k")
    inter = (
        x.join(y, "k")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(per_src.select(F.col("source").alias("source_a"),
                                       F.col("c").alias("ca"))),
            "source_a",
        )
        .join(
            F.broadcast(per_src.select(F.col("source").alias("source_b"),
                                       F.col("c").alias("cb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.expr("n_shared * 1000000 DIV (ca + cb - n_shared)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Pearson correlation monitor (corpus-stats drift guard: does doc length
# still track lexical diversity?): all five moment sums are EXACT
# BIGINTs from one map-side-combined aggregate per source; the only
# float work is the final sqrt/divide chain — each step correctly
# rounded IEEE on exactly-representable integers, so both engines print
# the identical 6dp value.
# ---------------------------------------------------------------------------


@q(
    "pearson_quality_length",
    """
    WITH per_doc AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'),
               t -> t != ''))) AS BIGINT) AS y
      FROM documents
    ),
    moments AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM per_doc GROUP BY source
    )
    SELECT source, n,
           round((n * sxy - sx * sy)
                 / (sqrt((n * sxx - sx * sx)::DOUBLE)
                    * sqrt((n * syy - sy * sy)::DOUBLE)), 6) AS corr
    FROM moments
    ORDER BY source
    """,
    "llm",
    "monitoring",
    "correlation",
)
def pearson_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson r between doc length and distinct-token count
    (exact integer moments, one float divide at the end)."""
    from milvus_cdc_spark.functions import text as textf

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.array_distinct(textf.tokens(F.lower(F.col("text")))))
        .cast("bigint")
        .alias("y"),
    )
    m = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
    dy = F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.select(
        "source", "n", F.round(num / (dx * dy), 6).alias("corr")
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch (the fixed-size alternative to an
# exact distributed percentile: one <=256-bucket equi-width histogram —
# the same partial-aggregation shape as CMS/HLL — then p50/p90/p99 by
# integer interpolation inside the covering bucket). The only windows
# ride the histogram itself (control-sized at any corpus scale);
# everything is non-negative BIGINT arithmetic.
# ---------------------------------------------------------------------------

_HQ_WIDTH = 512
_HQ_PCTS = (50, 90, 99)


@q(
    "histogram_quantile_sketch",
    f"""
    WITH hist AS (
      SELECT least(CAST(floor(l_extendedprice)::BIGINT // {_HQ_WIDTH} AS BIGINT),
                   255) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c,
             CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum_c,
             CAST(sum(c) OVER () AS BIGINT) AS total
      FROM hist
    ),
    pcts AS (SELECT unnest([{", ".join(str(p) for p in _HQ_PCTS)}]) AS p),
    chosen AS (
      SELECT p.p, min(cm.bucket) AS bucket
      FROM pcts p JOIN cum cm
        ON cm.cum_c * 100 >= p.p * cm.total
      GROUP BY p.p
    )
    SELECT CAST(ch.p AS INT) AS p, CAST(ch.bucket AS INT) AS bucket,
           CAST(ch.bucket * {_HQ_WIDTH}
                + ((p.p * cm.total + 99) // 100 - (cm.cum_c - cm.c))
                  * {_HQ_WIDTH} // cm.c AS BIGINT) AS value_est
    FROM chosen ch
    JOIN cum cm ON cm.bucket = ch.bucket
    JOIN pcts p ON p.p = ch.p
    ORDER BY p
    """,
    "sketch",
    "quantile",
    "monitoring",
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of l_extendedprice from a 256-bucket mergeable
    histogram, integer-interpolated within the covering bucket."""
    li = _t(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.least(
            F.expr(f"CAST(floor(l_extendedprice) AS BIGINT) DIV {_HQ_WIDTH}"),
            F.lit(255).cast("bigint"),
        ).alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("c"))
    # Semantically a no-op (least(..., 255) caps the histogram at 256
    # groups), but it plants the <=256 bound IN THE PLAN as a LocalLimit
    # so the SinglePartition exchange under the cumulative windows is
    # statically benign (the audit cannot read group cardinality out of
    # a bucketing expression — r12 full gate sweep).
    hist = hist.limit(256)
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket",
        "c",
        F.sum("c").over(w_cum).cast("bigint").alias("cum_c"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    pcts = _local_frame(spark, 
        [(p,) for p in _HQ_PCTS], "p int"
    )
    chosen = (
        F.broadcast(pcts)
        .join(cum, F.col("cum_c") * 100 >= F.col("p") * F.col("total"))
        .groupBy("p")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        chosen.join(cum, "bucket")
        .select(
            F.col("p").cast("int"),
            F.col("bucket").cast("int"),
            F.expr(
                f"CAST(bucket * {_HQ_WIDTH} + ((p * total + 99) DIV 100 "
                f"- (cum_c - c)) * {_HQ_WIDTH} DIV c AS BIGINT)"
            ).alias("value_est"),
        )
        .orderBy("p")
    )


# ---------------------------------------------------------------------------
# Partition-skew report — the diagnostic an operator runs BEFORE
# choosing a salting factor (the engine's salted_skew_join shows the
# cure; this measures the disease): rows per hash bucket of the join
# key, max/expected ratio in milli-units, and the hottest bucket. One
# map-side-combined count; the 64-row bucket table folds to one row.
# ---------------------------------------------------------------------------


@q(
    "partition_skew_report",
    """
    WITH b AS (
      SELECT l_suppkey % 64 AS bucket, CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY l_suppkey % 64
    ),
    hot AS (SELECT bucket, c FROM b ORDER BY c DESC, bucket LIMIT 1)
    SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_buckets,
           CAST((SELECT sum(c) FROM b) AS BIGINT) AS n_rows,
           CAST((SELECT max(c) FROM b) AS BIGINT) AS max_rows,
           CAST((SELECT min(c) FROM b) AS BIGINT) AS min_rows,
           CAST((SELECT bucket FROM hot) AS BIGINT) AS hottest_bucket,
           CAST((SELECT max(c) FROM b) * (SELECT count(*) FROM b) * 1000
                // (SELECT sum(c) FROM b) AS BIGINT) AS skew_milli
    """,
    "monitoring",
    "skew",
    "operations",
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key hash-bucket skew stats for lineitem.l_suppkey (64
    buckets): max/expected ratio in milli-units + hottest bucket."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy((F.col("l_suppkey") % 64).alias("bucket")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    hot = b.orderBy(F.col("c").desc(), "bucket").limit(1).select(
        F.col("bucket").alias("hottest_bucket")
    )
    agg = b.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_rows"),
        F.min("c").cast("bigint").alias("min_rows"),
    )
    return agg.crossJoin(F.broadcast(hot)).select(
        "n_buckets",
        "n_rows",
        "max_rows",
        "min_rows",
        F.col("hottest_bucket").cast("bigint"),
        F.expr("max_rows * n_buckets * 1000 DIV n_rows")
        .cast("bigint")
        .alias("skew_milli"),
    )


# ---------------------------------------------------------------------------
# EWMA throughput monitor (alpha = 0.3 over the last 8 hour-buckets,
# weights 0.3*0.7^i expanded to EXACT ppm integers in Python — 3*7^i /
# 10^(i+1) — and the SAME literals embedded in both engines, so no pow()
# or float decay ever runs in either). Absent hours count zero via the
# lag dim; per-type EWMA is an exact integer weighted sum.
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8
#: floor(0.3 * 0.7^i * 1e6) as exact integers: 3*7^i*10^6 // 10^(i+1)
_EWMA_W = [3 * 7**i * 10**6 // 10 ** (i + 1) for i in range(_EWMA_LAGS)]


@q(
    "ewma_event_rate",
    f"""
    WITH hours AS (
      SELECT event_type,
             CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, epoch_ms(ts) // 3600000
    ),
    mx AS (SELECT max(h) AS hmax FROM hours),
    lags AS (
      SELECT t.lag, t.w FROM (VALUES
        {", ".join(f"({i}, {w})" for i, w in enumerate(_EWMA_W))}
      ) AS t(lag, w)
    ),
    types AS (SELECT DISTINCT event_type FROM hours),
    grid AS (
      SELECT ty.event_type, l.lag, l.w,
             coalesce(h.c, 0) AS c
      FROM types ty
      CROSS JOIN lags l
      CROSS JOIN mx
      LEFT JOIN hours h ON h.event_type = ty.event_type
                       AND h.h = mx.hmax - l.lag
    )
    SELECT event_type,
           CAST(sum(w * c) AS BIGINT) AS ewma_ppm,
           CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_active_hours
    FROM grid GROUP BY event_type ORDER BY event_type
    """,
    "monitoring",
    "ewma",
    "streaming",
)
def ewma_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type EWMA (alpha 0.3, 8 hour-lags, exact ppm weights) of
    event throughput anchored at the newest hour."""
    ev = _t(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type",
        F.expr("CAST(unix_millis(ts) DIV 3600000 AS BIGINT)").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    mx = hours.agg(F.max("h").alias("hmax"))
    lags = _local_frame(spark, 
        list(enumerate(_EWMA_W)), "lag int, w long"
    )
    types = hours.select("event_type").distinct()
    h2 = hours.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("_h"),
        F.col("c").alias("_c"),
    )
    grid = (
        types.crossJoin(F.broadcast(lags))
        .crossJoin(F.broadcast(mx))
        .join(
            h2,
            (F.col("et2") == F.col("event_type"))
            & (F.col("_h") == F.col("hmax") - F.col("lag")),
            "left",
        )
        .select(
            "event_type",
            "lag",
            "w",
            F.coalesce(F.col("_c"), F.lit(0)).alias("c"),
        )
    )
    return (
        grid.groupBy("event_type")
        .agg(
            F.sum(F.col("w") * F.col("c")).cast("bigint").alias("ewma_ppm"),
            F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_active_hours"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Interval (range) join via neighbor-bucket expansion — the standard
# Spark rewrite of the theta-join "t2 BETWEEN t1-6h AND t1+6h": bucket
# both sides by window width, explode the probe side into its 5 candidate
# buckets, equi-join on (user, bucket), THEN apply the exact range
# predicate. The equi-join shuffles hash-partitioned (AQE-skew-safe)
# instead of falling into BroadcastNestedLoop — the shape that dies at
# 100 TB. Candidates per row are bounded by per-(user, second) density.
# ---------------------------------------------------------------------------


@q(
    "interval_bucket_join",
    """
    WITH err AS (
      SELECT event_id, user_id, epoch_ms(ts) AS tms
      FROM events WHERE event_type = 'error'
    ),
    clk AS (
      SELECT user_id, epoch_ms(ts) AS tms
      FROM events WHERE event_type = 'click'
    )
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_errors,
           CAST(sum((SELECT count(*) FROM clk c
                     WHERE c.user_id = e.user_id
                       AND c.tms BETWEEN e.tms - 21600000 AND e.tms + 21600000))
                AS BIGINT) AS n_nearby_clicks
    FROM err e
    GROUP BY e.user_id
    HAVING sum((SELECT count(*) FROM clk c
                WHERE c.user_id = e.user_id
                  AND c.tms BETWEEN e.tms - 21600000 AND e.tms + 21600000)) > 0
    ORDER BY e.user_id
    """,
    "join",
    "range-join",
    "interval",
)
def interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of clicks within ±6 h of an error event, via the
    bucketed range-join rewrite (equi-join on (user, 2s-bucket) with
    neighbor expansion, exact predicate after)."""
    ev = _t(spark, sf_dir, "events")
    tms = F.expr("unix_millis(ts)")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", tms.alias("tms")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), tms.alias("t2"),
        F.expr("unix_millis(ts) DIV 21600000").alias("b2"),
    )
    # probe side explodes into its 3 candidate 2s-buckets (window is
    # ±21600000 ms -> bucket, bucket±1 at width 21600000)
    probe = err.select(
        "event_id",
        "user_id",
        "tms",
        F.explode(
            F.array(
                F.expr("tms DIV 21600000 - 1"),
                F.expr("tms DIV 21600000"),
                F.expr("tms DIV 21600000 + 1"),
            )
        ).alias("b2"),
    )
    matched = (
        probe.join(
            clk,
            (F.col("user_id") == F.col("u2")) & (probe["b2"] == clk["b2"]),
        )
        .filter(
            (F.col("t2") >= F.col("tms") - 21600000)
            & (F.col("t2") <= F.col("tms") + 21600000)
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("nc"))
    )
    return (
        err.join(matched, "event_id", "left")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_errors"),
            F.sum(F.coalesce(F.col("nc"), F.lit(0)))
            .cast("bigint")
            .alias("n_nearby_clicks"),
        )
        .filter(F.col("n_nearby_clicks") > 0)
        .orderBy("user_id")
    )
