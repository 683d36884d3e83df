"""Search-surface parity queries: the request shapes a Milvus client runs
against replicated collections (search + boolean filter expression, range
search with radius, grouping search, offset pagination, and the SQ8
quantized-storage path) — re-expressed as declarative DataFrame plans over
the ``embeddings`` fixture and oracle-checked in DuckDB.

Scale notes: every variant is the broadcast-query brute-force scored frame
(exact path; the bucketed ANN variants in ``analytics/similarity.py``
compose the same refinements sub-quadratically) plus one Catalyst-friendly
refinement — a pushed-down scalar filter, a sim-threshold filter, stacked
window ranks bounded by (query × group) cardinality, or a rank-range page.
No arrays are collected; the only cross join broadcasts the catalog-sized
query side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from milvus_cdc_spark import catalog
from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.operators import windows
from milvus_cdc_spark.suite import _SQL_COSINE, _t, q

# ---------------------------------------------------------------------------
# Hybrid attribute + vector search: Milvus search(filter="label % 2 == 0").
# The predicate applies before any distance math — at 100 TB the label
# filter pushes into the parquet scan and prunes the candidate set first
# (asserted in tests/test_plans.py).
# ---------------------------------------------------------------------------


@q(
    "filtered_ann_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id AND c.label % 2 = 0
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
    "search",
    "hybrid-filter",
    "llm",
)
def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.filtered_topk(
        emb, queries, F.col("label") % 2 == 0, k=3
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Range search: all neighbors with sim >= radius (milvus.io range-search
# semantics; unbounded k — result size scales with matches).
# ---------------------------------------------------------------------------


@q(
    "range_search_radius",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, sim
    FROM scored WHERE sim >= 0.3
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    "vector",
    "search",
    "range-search",
    "llm",
)
def range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.range_search(emb, queries, radius=0.3).orderBy(
        "query_id", F.col("sim").desc(), "neighbor_id"
    )


# ---------------------------------------------------------------------------
# Grouping search: best hit per label, top-3 labels per query (Milvus
# group_by_field — "diverse results" semantics).
# ---------------------------------------------------------------------------


@q(
    "grouping_search_labels",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS grp,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    ),
    best AS (
      SELECT * FROM (
        SELECT query_id, grp, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id, grp
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT query_id, grp_rank, grp, rn, neighbor_id, sim
    FROM (
      SELECT query_id, grp, rn, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, grp) AS grp_rank
      FROM best
    ) WHERE grp_rank <= 3
    ORDER BY query_id, grp_rank
    """,
    "vector",
    "search",
    "grouping",
    "llm",
)
def grouping_search_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.grouping_topk(emb, queries, group_col="label", k_groups=3).orderBy(
        "query_id", "grp_rank"
    )


# ---------------------------------------------------------------------------
# Grouping search with group_size > 1 (Milvus group_size/strict_group_size
# params): top-2 hits per group, top-2 groups per query ranked by each
# group's best hit. Exact engine ⇒ both strict settings coincide
# (similarity.grouping_topk docstring).
# ---------------------------------------------------------------------------


@q(
    "grouping_search_group_size",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS grp,
             {{0}} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, grp, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id, grp
                                ORDER BY sim DESC, neighbor_id) AS rn,
             max(sim) OVER (PARTITION BY query_id, grp) AS best_sim
      FROM scored
    ),
    top AS (
      SELECT query_id, grp, rn, neighbor_id, sim,
             dense_rank() OVER (PARTITION BY query_id
                                ORDER BY best_sim DESC, grp) AS grp_rank
      FROM ranked WHERE rn <= 2
    )
    SELECT query_id, grp_rank, grp, rn, neighbor_id, sim
    FROM top WHERE grp_rank <= 2
    ORDER BY query_id, grp_rank, rn
    """.format(_SQL_COSINE),
    "vector",
    "search",
    "grouping",
    "group-size",
    "llm",
)
def grouping_search_group_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.grouping_topk(
        emb, queries, group_col="label", k_groups=2, group_size=2
    ).orderBy("query_id", "grp_rank", "rn")


# ---------------------------------------------------------------------------
# Pagination: offset 3, limit 3 — "page 2" of the exact ordering (Milvus
# search offset param / query iterator).
# ---------------------------------------------------------------------------


@q(
    "search_pagination",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
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
    FROM ranked WHERE rank > 3 AND rank <= 6
    ORDER BY query_id, rank
    """,
    "vector",
    "search",
    "pagination",
    "llm",
)
def search_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.paged_topk(emb, queries, offset=3, limit=3).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# SQ8 storage codec (Milvus IVF_SQ8): corpus vectors quantized to 8-bit
# codes (4× smaller), searched after dequantization; the query reports
# per-query recall@3 of the quantized search against full precision. The
# quantizer is pure affine integer arithmetic — floor((x-mn)/rng*255+0.5) —
# so both engines produce identical codes and identical rankings.
# ---------------------------------------------------------------------------

_SQL_SQ8_DEQ = """
  list_transform(
    c.codes, cd -> c.mn + cd / 255.0 * c.rng)
"""


@q(
    "sq8_quantized_recall",
    f"""
    WITH deq AS (
      SELECT vec_id,
             mn, rng,
             list_transform(codes, cd -> mn + cd / 255.0 * rng) AS embedding
      FROM (
        SELECT vec_id,
               list_min(embedding::DOUBLE[]) AS mn,
               greatest(list_max(embedding::DOUBLE[])
                        - list_min(embedding::DOUBLE[]), 1e-12) AS rng,
               list_transform(embedding::DOUBLE[],
                 x -> floor((x - list_min(embedding::DOUBLE[]))
                            / greatest(list_max(embedding::DOUBLE[])
                                       - list_min(embedding::DOUBLE[]), 1e-12)
                            * 255.0 + 0.5)) AS codes
        FROM embeddings
      )
    ),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    approx AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(
                   list_sum(list_transform(list_zip(c.embedding, q.embedding::DOUBLE[]),
                                           p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(c.embedding, x -> x * x)))
                      * sqrt(list_sum(list_transform(q.embedding::DOUBLE[], x -> x * x)))),
                   6) DESC, c.vec_id) AS rank
        FROM deq c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_SQL_COSINE} DESC, c.vec_id) AS rank
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    "vector",
    "quantization",
    "sq8",
    "recall",
    "llm",
)
def sq8_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    deq = emb.select(
        "vec_id",
        vecf.sq8_dequantize(
            vecf.sq8_quantize(F.col("embedding"))
        ).alias("embedding"),
    )
    approx = similarity.brute_force_topk(deq, queries, k=3)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    return similarity.recall_at_k(exact, approx).orderBy("query_id")


# ---------------------------------------------------------------------------
# 1-bit binary quantization (the storage idea behind Milvus's binary/
# RaBitQ-family indexes, Gao & Long SIGMOD'24, deterministic core): sign
# bits of the centroid residual + the per-vector L2-optimal scale
# s = mean(|r_d|) — 32× smaller than float32. The query reports per-query
# recall@3 of search-after-reconstruction vs full precision, like the SQ8
# twin above. Quantization is pure comparisons + one fold; both engines
# produce identical codes, and cosine is rounded to 6 before ranking.
# ---------------------------------------------------------------------------


@q(
    "binary_quantized_recall",
    """
    WITH centroid AS (
      SELECT list(avg_v ORDER BY dim) AS c
      FROM (
        SELECT u.dim, avg(u.v) AS avg_v
        FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
                     unnest(generate_series(1, len(embedding))) AS dim
              FROM embeddings) u
        GROUP BY u.dim
      )
    ),
    res AS (
      SELECT e.vec_id,
             list_transform(list_zip(e.embedding::DOUBLE[], ct.c),
                            p -> p[1] - p[2]) AS r,
             ct.c AS c
      FROM embeddings e, centroid ct
    ),
    scaled AS (
      SELECT vec_id, r, c,
             list_sum(list_transform(r, x -> abs(x))) / len(r) AS s
      FROM res
    ),
    recon AS (
      SELECT vec_id,
             list_transform(list_zip(r, c),
                            p -> p[2] + CASE WHEN p[1] >= 0 THEN s ELSE -s END)
               AS embedding
      FROM scaled
    ),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    approx AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {0} DESC, c.vec_id) AS rank
        FROM recon c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {0} DESC, c.vec_id) AS rank
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """.format(_SQL_COSINE),
    "vector",
    "quantization",
    "binary",
    "rabitq",
    "recall",
    "llm",
)
def binary_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of 1-bit sign-quantized search vs full precision. The
    centroid is ONE global per-dim average (map-side partial agg →
    single row, broadcast); quantize/reconstruct are pure array
    expressions (functions.vector.binary_quantize/_dequantize); both
    search branches are the audited broadcast brute-force plan."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    dim = catalog.EMB_DIM  # fixture contract; a .first() probe here spent
    # a whole Spark job per invocation just to learn this constant
    cent = emb.agg(
        F.array(*[F.avg(F.col("embedding")[i]) for i in range(dim)]).alias("c")
    )
    recon = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        vecf.binary_dequantize(
            vecf.binary_quantize(F.col("embedding"), F.col("c")), F.col("c")
        ).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5)
    approx = similarity.brute_force_topk(recon, queries, k=3)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    return similarity.recall_at_k(exact, approx).orderBy("query_id")


# ---------------------------------------------------------------------------
# Hybrid multi-vector search (Milvus hybrid_search API): a dense branch
# (cosine top-10) and a sparse branch (inverted-index dot-product top-10)
# fused per query. Two rankers, both oracle-checked:
#   - RRF (RRFRanker):      score = Σ 1/(60 + rank)
#   - weighted (WeightedRanker): 0.7·dense + 0.3·sparse, absent → 0
# Scale: each branch is the already-audited top-k plan; fusion is one
# grouped sum (RRF) or one full-outer join (weighted) over ≤ 10 rows per
# query per branch — bounded by k × queries, never by corpus size.
# ---------------------------------------------------------------------------

_SQL_HYBRID_BRANCHES = f"""
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    dense AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COSINE} AS sim,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_SQL_COSINE} DESC, c.vec_id) AS rank
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    ),
    comp AS (
      SELECT vec_id,
             unnest(embedding::DOUBLE[]) AS val,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    sp AS (SELECT vec_id, dim, val FROM comp WHERE abs(val) >= 0.2),
    spq AS (SELECT vec_id AS query_id, dim, val AS qval FROM sp WHERE vec_id < 5),
    sparse AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM (
          SELECT spq.query_id, s.vec_id AS neighbor_id,
                 round(sum(s.val * spq.qval), 6) AS sim
          FROM sp s JOIN spq USING (dim)
          WHERE s.vec_id != spq.query_id
          GROUP BY spq.query_id, s.vec_id
        )
      ) WHERE rank <= 10
    )
"""


def _hybrid_branches(spark: SparkSession, sf_dir: str):
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    dense = similarity.brute_force_topk(emb, queries, k=10)
    rows = similarity.sparse_rows(emb, threshold=0.2)
    qrows = rows.filter(F.col("vec_id") < 5)
    sparse = similarity.sparse_topk(rows, qrows, k=10)
    return dense, sparse


@q(
    "hybrid_search_rrf",
    f"""
    WITH {_SQL_HYBRID_BRANCHES},
    u AS (
      SELECT query_id, neighbor_id, rank FROM dense
      UNION ALL
      SELECT query_id, neighbor_id, rank FROM sparse
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             round(sum(1.0 / (60 + rank)), 6) AS rrf_score
      FROM u GROUP BY query_id, neighbor_id
    )
    SELECT query_id, fused_rank, neighbor_id, rrf_score
    FROM (
      SELECT query_id, neighbor_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, neighbor_id) AS fused_rank
      FROM fused
    ) WHERE fused_rank <= 3
    ORDER BY query_id, fused_rank
    """,
    "vector",
    "search",
    "hybrid",
    "rrf",
    "llm",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    dense, sparse = _hybrid_branches(spark, sf_dir)
    return similarity.rrf_fuse(dense, sparse, k=60, topk=3).orderBy(
        "query_id", "fused_rank"
    )


@q(
    "hybrid_search_weighted",
    f"""
    WITH {_SQL_HYBRID_BRANCHES}
    SELECT query_id, fused_rank, neighbor_id, weighted_score
    FROM (
      SELECT query_id, neighbor_id, weighted_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY weighted_score DESC, neighbor_id)
               AS fused_rank
      FROM (
        -- integer deci-micro scoring: branch sims are 6-dp values, so
        -- floor(sim*1e6+0.5) is an exact integer in both engines and
        -- 7*dense + 3*sparse (units of 1e-7) never hits a float rounding
        -- boundary the way 0.7*d + 0.3*s does
        SELECT coalesce(d.query_id, s.query_id) AS query_id,
               coalesce(d.neighbor_id, s.neighbor_id) AS neighbor_id,
               CAST(7 * coalesce(CAST(floor(d.sim * 1e6 + 0.5) AS BIGINT), 0)
                    + 3 * coalesce(CAST(floor(s.sim * 1e6 + 0.5) AS BIGINT), 0)
                    AS BIGINT) AS weighted_score
        FROM dense d FULL OUTER JOIN sparse s
          ON d.query_id = s.query_id AND d.neighbor_id = s.neighbor_id
      )
    ) WHERE fused_rank <= 3
    ORDER BY query_id, fused_rank
    """,
    "vector",
    "search",
    "hybrid",
    "weighted-ranker",
    "llm",
)
def hybrid_search_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    dense, sparse = _hybrid_branches(spark, sf_dir)
    return similarity.weighted_fuse(dense, sparse, w_a=7, w_b=3, topk=3).orderBy(
        "query_id", "fused_rank"
    )


# ---------------------------------------------------------------------------
# Partition-key routing (Milvus partition-key collections: entities hash to
# one of N partitions; the CDC replicates partition-level ops). The routing
# is the portable md5-nibble hash (the repo's cross-engine hash contract),
# 16 partitions; output is the per-(collection, partition) entity census a
# partition-balanced ingest produces. Scale: one projection + one grouped
# count — the same plan at any corpus size.
# ---------------------------------------------------------------------------


@q(
    "partition_key_routing",
    """
    SELECT 'coll_' || CAST(l_suppkey % 3 AS VARCHAR) AS collection,
           strpos('0123456789abcdef',
                  substr(md5(CAST(l_partkey * 100 + l_linenumber AS VARCHAR)), 1, 1))
             - 1 AS partition_id,
           count(*) AS n_entities
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    "cdc",
    "partition-key",
    "routing",
)
def partition_key_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pk = (F.col("l_partkey") * 100 + F.col("l_linenumber")).cast("bigint")
    partition_id = (
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.md5(pk.cast("string")), 1, 1)
        )
        - 1
    ).cast("bigint")
    return (
        li.select(
            F.concat(
                F.lit("coll_"), (F.col("l_suppkey") % 3).cast("string")
            ).alias("collection"),
            partition_id.alias("partition_id"),
        )
        .groupBy("collection", "partition_id")
        .agg(F.count("*").alias("n_entities"))
        .orderBy("collection", "partition_id")
    )


# ---------------------------------------------------------------------------
# Metric-type parity (Milvus metric_type: L2 / IP / COSINE / HAMMING /
# JACCARD). Index params carry the metric through the replicated DDL path
# (reference core/writer CreateIndex handling); a reader of the replica
# searches with that metric. COSINE is `cosine_topk`; these cover the rest.
# Per-row reductions accumulate left-to-right in double on both engines
# (zip_with/aggregate vs list_transform/list_sum), so 6dp rounding before
# ranking is cross-engine stable.
# ---------------------------------------------------------------------------

_SQL_IP = """
  round(
    list_sum(list_transform(list_zip(c.embedding::DOUBLE[], q.embedding::DOUBLE[]),
                            p -> p[1] * p[2])), 6)
"""

_SQL_L2SQ = """
  round(
    list_sum(list_transform(list_zip(c.embedding::DOUBLE[], q.embedding::DOUBLE[]),
                            p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)
"""


@q(
    "ip_search_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_IP} AS distance
      FROM embeddings c, q WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, distance,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY distance DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, distance
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "search",
    "metric-type",
    "llm",
)
def ip_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner-product (IP) exact top-k — higher dot product is better."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.metric_topk(emb, queries, metric="ip", k=3).orderBy(
        "query_id", "rank"
    )


@q(
    "l2_search_topk",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_L2SQ} AS distance
      FROM embeddings c, q WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, distance,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY distance ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, distance
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "search",
    "metric-type",
    "llm",
)
def l2_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 exact top-k — Milvus returns SQUARED Euclidean distance,
    ascending (smaller is closer)."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.metric_topk(emb, queries, metric="l2", k=3).orderBy(
        "query_id", "rank"
    )


def _sql_sign_word(col: str, word: int, word_bits: int = 32) -> str:
    """DuckDB expression packing sign bits of dims [word*word_bits,
    (word+1)*word_bits) of ``col`` into a BIGINT word (mirrors
    functions.vector.sign_words_i64)."""
    terms = " + ".join(
        f"(CASE WHEN {col}[{word * word_bits + i + 1}] >= 0 "
        f"THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(word_bits)
    )
    return f"({terms})"


_SQL_W0 = _sql_sign_word("embedding", 0)
_SQL_W1 = _sql_sign_word("embedding", 1)


@q(
    "hamming_multiword_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, {_SQL_W0} AS w0, {_SQL_W1} AS w1 FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
          FROM sig WHERE vec_id < 5),
    scored AS (
      SELECT query_id, s.vec_id AS neighbor_id,
             bit_count(xor(s.w0, q.qw0)) + bit_count(xor(s.w1, q.qw1))
               AS hamming
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
    "metric-type",
    "llm",
)
def hamming_multiword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryVector Hamming top-k over ALL 64 dims, packed as 2×32-bit
    words (``array<bigint>``) — the general encoding for any dimension
    (Milvus BinaryVector is dim/8 bytes; the single-word `hamming_topk`
    caps at 63). Distance = Σ bit_count(xor) over words, one popcount per
    word per pair, still a pure projection before the ranking window.

    r14 note (measured): corpus-side scan-widening was a wash here
    (interleaved A/B 0.99) — per-word popcounts are too cheap to repay
    the exchange; only the maxsim scorers keep the widening."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id", vecf.sign_words_i64(F.col("embedding"), 64, 32).alias("words")
    )
    qsig = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("words").alias("qwords")
    )
    scored = similarity.search_pairs(
        sig,
        qsig,
        vecf.hamming_words(F.col("words"), F.col("qwords")).alias("hamming"),
    )
    return (
        windows.top_k(scored, "query_id", ["hamming", "neighbor_id"], 3)
        .select("query_id", "rank", "neighbor_id", "hamming")
        .orderBy("query_id", "rank")
    )


@q(
    "jaccard_binary_topk",
    f"""
    WITH sig AS (
      SELECT vec_id, {_SQL_W0} AS w0, {_SQL_W1} AS w1 FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, w0 AS qw0, w1 AS qw1
          FROM sig WHERE vec_id < 5),
    scored AS (
      SELECT query_id, s.vec_id AS neighbor_id,
             round(CASE
               WHEN bit_count(s.w0 | q.qw0) + bit_count(s.w1 | q.qw1) = 0
               THEN 0.0
               ELSE 1.0 -
                 CAST(bit_count(s.w0 & q.qw0) + bit_count(s.w1 & q.qw1)
                      AS DOUBLE)
                 / CAST(bit_count(s.w0 | q.qw0) + bit_count(s.w1 | q.qw1)
                        AS DOUBLE)
             END, 6) AS distance
      FROM sig s, q WHERE s.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, distance,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY distance ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, distance
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "binary-vector",
    "metric-type",
    "llm",
)
def jaccard_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus JACCARD distance top-k over packed BinaryVectors:
    1 - |a AND b| / |a OR b| via per-word popcounts. Exact-integer counts
    divided once — bit-identical IEEE across engines — then 6dp rounding
    for rank stability.

    r14 note (measured): corpus-side scan-widening was a wash here
    (interleaved A/B 1.02 then 0.96) — popcount pairs are too cheap to
    repay the exchange; only the maxsim scorers keep the widening."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    sig = emb.select(
        "vec_id", vecf.sign_words_i64(F.col("embedding"), 64, 32).alias("words")
    )
    qsig = sig.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("words").alias("qwords")
    )
    scored = similarity.search_pairs(
        sig,
        qsig,
        F.round(
            vecf.jaccard_words(F.col("words"), F.col("qwords")), 6
        ).alias("distance"),
    )
    return (
        windows.top_k(scored, "query_id", ["distance", "neighbor_id"], 3)
        .select("query_id", "rank", "neighbor_id", "distance")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Full-text match surface (Milvus 2.5 text_match / phrase_match over an
# INVERTED text index). Both engines tokenize with the identical analyzer:
# lower + split on [^a-z0-9]+, empties dropped.
# ---------------------------------------------------------------------------

_SQL_TOKS = """
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
"""

_SQL_POS_TOKS = """
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok,
         generate_subscripts(
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       t -> t <> ''), 1) AS pos
  FROM documents
"""


@q(
    "text_match_retrieval",
    f"""
    WITH toks AS ({_SQL_TOKS})
    SELECT doc_id FROM toks
    WHERE tok IN ('vector', 'merge', 'hash')
    GROUP BY doc_id
    HAVING count(DISTINCT tok) = 3
    ORDER BY doc_id
    """,
    "text",
    "inverted-index",
    "text-match",
    "llm",
)
def text_match_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing ALL of {vector, merge, hash} — posting-list
    intersection, never a per-query full-text rescan."""
    from milvus_cdc_spark.analytics import textrank

    docs = _t(spark, sf_dir, "documents")
    return textrank.text_match_all(docs, ["vector", "merge", "hash"]).orderBy(
        "doc_id"
    )


@q(
    "phrase_match_retrieval",
    f"""
    WITH toks AS ({_SQL_POS_TOKS})
    SELECT DISTINCT a.doc_id
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.tok = 'fast' AND b.tok = 'sort'
    ORDER BY a.doc_id
    """,
    "text",
    "inverted-index",
    "phrase-match",
    "llm",
)
def phrase_match_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing the exact phrase "fast sort" (slop 0) via
    positional postings — posting-sized self-join on (doc, pos+1)."""
    from milvus_cdc_spark.analytics import textrank

    docs = _t(spark, sf_dir, "documents")
    return textrank.phrase_match(docs, ["fast", "sort"]).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Iterator pagination (Milvus query_iterator / search_iterator): keyset
# (seek) pagination instead of OFFSET. An offset page costs O(offset) at
# every engine; the keyset predicate pushes into the scan, so page N
# costs the same as page 1 — the only iterator shape that survives 100 TB.
# ---------------------------------------------------------------------------


@q(
    "keyset_pagination",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > DATE '1995-06-15'
       OR (o_orderdate = DATE '1995-06-15' AND o_orderkey > 12345)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 20
    """,
    "search",
    "iterator",
    "pagination",
)
def keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iterator page after cursor (1995-06-15, 12345): the strict
    keyset predicate reaches the parquet scan (PushedFilters) and the
    page materializes via TakeOrderedAndProject — no global sort, no
    offset skip-scan."""
    o = _t(spark, sf_dir, "orders")
    cur_date = F.lit("1995-06-15").cast("date")
    after = (F.col("o_orderdate") > cur_date) | (
        (F.col("o_orderdate") == cur_date) & (F.col("o_orderkey") > 12345)
    )
    return (
        o.filter(after)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ARRAY-field boolean expressions (Milvus ARRAY datatype filter surface:
# array_contains / array_contains_any / array_length). The array column is
# derived from text deterministically; the predicates compose with any
# search/filter plan exactly like scalar filters.
# ---------------------------------------------------------------------------


@q(
    "array_field_filters",
    """
    WITH arr AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS tags
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN list_contains(tags, 'vector') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contains,
           CAST(sum(CASE WHEN list_contains(tags, 'vector')
                          OR list_contains(tags, 'stream')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_contains_any,
           CAST(sum(CASE WHEN len(tags) BETWEEN 30 AND 60 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_len_between
    FROM arr
    GROUP BY lang
    ORDER BY lang
    """,
    "search",
    "array-field",
    "filter",
)
def array_field_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus ARRAY expr parity: array_contains / contains_any /
    array_length over a derived tags array, counted per lang."""
    docs = _t(spark, sf_dir, "documents")
    tags = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != ""
    )
    arr = docs.select("doc_id", "lang", tags.alias("tags"))
    return (
        arr.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.array_contains("tags", "vector"), 1).otherwise(0)
            ).alias("n_contains"),
            F.sum(
                F.when(
                    F.array_contains("tags", "vector")
                    | F.array_contains("tags", "stream"),
                    1,
                ).otherwise(0)
            ).alias("n_contains_any"),
            F.sum(
                F.when(F.size("tags").between(30, 60), 1).otherwise(0)
            ).alias("n_len_between"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Milvus filter-expression language (query(expr=...) / search(filter=...)).
# The reference's own e2e checks drive deletes and row verification through
# these strings (tests/testcases/test_cdc_e2e.py:103-107 `int64 in [...]`),
# so the replicated data must answer them here. functions/expr.py compiles
# the public grammar to pure Column predicates; this query evaluates 15
# expressions covering every grammar family in ONE scan (conditional
# aggregation → stack), and the oracle re-states each predicate directly
# over the base columns — a hash match proves compiler semantics, not just
# parse success.
# ---------------------------------------------------------------------------

#: (expr_id, Milvus expression) — one per grammar family.
MILVUS_EXPRS: tuple[tuple[str, str], ...] = (
    ("e01", 'size >= 10 && size < 25'),                     # && + comparisons
    ("e02", "5 < size <= 20"),                              # chained binary range
    ("e03", 'brand in ["Brand#12", "Brand#34"]'),           # in list
    ("e04", 'name like "gold%"'),                           # like prefix
    ("e05", 'not (size == 10 || brand == "Brand#12")'),     # not / || / parens
    ("e06", "price / 2 + 100 > size * 6"),                  # arithmetic precedence
    ("e07", "size % 4 == 0"),                               # modulo
    ("e08", 'array_contains(tags, "green")'),               # ARRAY contains
    ("e09", 'array_contains_any(tags, ["green", "navy"])'), # ARRAY contains_any
    ("e10", "array_length(tags) == 5"),                     # ARRAY length
    ("e11", 'tags[0] == "green"'),                          # 0-based ARRAY index
    ("e12", 'props["grade"] >= 3'),                         # JSON path + typed cast
    ("e13", 'exists props["extra"]'),                       # JSON exists
    ("e14", 'ptype like "%BRASS"'),                         # dynamic $meta field
    ("e15", "size ** 2 > 400"),                             # power
)

_EXPR_ORACLE_PREDS: tuple[tuple[str, str], ...] = (
    ("e01", "size >= 10 AND size < 25"),
    ("e02", "5 < size AND size <= 20"),
    ("e03", "brand IN ('Brand#12', 'Brand#34')"),
    ("e04", "name LIKE 'gold%'"),
    ("e05", "NOT (size = 10 OR brand = 'Brand#12')"),
    ("e06", "price / 2 + 100 > size * 6"),
    ("e07", "size % 4 = 0"),
    ("e08", "list_contains(tags, 'green')"),
    ("e09", "list_contains(tags, 'green') OR list_contains(tags, 'navy')"),
    ("e10", "len(tags) = 5"),
    ("e11", "tags[1] = 'green'"),
    ("e12", "size % 5 >= 3"),
    ("e13", "pk % 3 = 0"),
    ("e14", "ptype LIKE '%BRASS'"),
    ("e15", "size * size > 400"),
)

_EXPR_ORACLE = (
    """
    WITH ent AS (
      SELECT p_partkey AS pk, p_size AS size, p_retailprice AS price,
             p_brand AS brand, p_name AS name, p_type AS ptype,
             regexp_split_to_array(p_name, ' ') AS tags
      FROM part
    ), w AS (
      SELECT
    """
    + ",\n".join(
        f"        CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n{eid[1:]},\n"
        f"        CAST(sum(CASE WHEN {pred} THEN pk ELSE 0 END) AS BIGINT) AS s{eid[1:]}"
        for eid, pred in _EXPR_ORACLE_PREDS
    )
    + """
      FROM ent
    )
    """
    + "\n    UNION ALL ".join(
        f"SELECT '{eid}' AS expr_id, n{eid[1:]} AS n_match, s{eid[1:]} AS sum_pk FROM w"
        for eid, _ in _EXPR_ORACLE_PREDS
    )
    + "\n    ORDER BY expr_id"
)


#: expr-compiler match surface: (expr_id, Milvus filter expression).
MATCH_EXPRS = (
    ("m1", "text_match(text, 'vector stream')"),
    ("m2", "phrase_match(text, 'data table')"),
    ("m3", "text_match(text, 'vector') and not phrase_match(text, 'vector table')"),
    ("m4", "phrase_match(text, 'big big')"),
)

_MATCH_ORACLE_PREDS = (
    ("m1", "len(list_intersect(toks, ['vector', 'stream'])) > 0"),
    ("m2", "contains(stream, ' data table ')"),
    ("m3", "len(list_intersect(toks, ['vector'])) > 0"
           " AND NOT contains(stream, ' vector table ')"),
    ("m4", "contains(stream, ' big big ')"),
)

_MATCH_ORACLE = (
    """
    WITH ent AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t != '') AS toks
      FROM documents
    ), ent2 AS (
      SELECT doc_id, toks,
             ' ' || array_to_string(toks, ' ') || ' ' AS stream
      FROM ent
    ), w AS (
      SELECT
    """
    + ",\n".join(
        f"        CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n{eid[1:]},\n"
        f"        CAST(sum(CASE WHEN {pred} THEN doc_id ELSE 0 END) AS BIGINT) AS s{eid[1:]}"
        for eid, pred in _MATCH_ORACLE_PREDS
    )
    + """
      FROM ent2
    )
    """
    + "\n    UNION ALL ".join(
        f"SELECT '{eid}' AS expr_id, n{eid[1:]} AS n_match, s{eid[1:]} AS sum_doc_id FROM w"
        for eid, _ in _MATCH_ORACLE_PREDS
    )
    + "\n    ORDER BY expr_id"
)


@q(
    "expr_text_match_filter",
    _MATCH_ORACLE,
    "expr",
    "text-match",
    "search",
    "compiler",
)
def expr_text_match_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT_MATCH / PHRASE_MATCH as compiled filter predicates (the Milvus
    expr functions, not the posting-list retrieval path): four match
    expressions over ``documents`` evaluated in ONE conditional-agg scan,
    sharing the alnum analyzer with analytics.textrank so both access
    paths agree. Covers OR-of-terms, adjacency, negation composition, and
    repeated-word adjacency."""
    from milvus_cdc_spark.functions.expr import compile_expr

    docs = _t(spark, sf_dir, "documents")
    fields = {"text": docs["text"], "doc_id": docs["doc_id"]}
    aggs = []
    for eid, src in MATCH_EXPRS:
        pred = compile_expr(src, fields)
        aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"n{eid[1:]}"))
        aggs.append(
            F.sum(F.when(pred, F.col("doc_id")).otherwise(0)).alias(f"s{eid[1:]}")
        )
    wide = docs.agg(*aggs)
    pairs = ", ".join(f"'{eid}', n{eid[1:]}, s{eid[1:]}" for eid, _ in MATCH_EXPRS)
    return wide.select(
        F.expr(
            f"stack({len(MATCH_EXPRS)}, {pairs}) AS (expr_id, n_match, sum_doc_id)"
        )
    ).orderBy("expr_id")


@q(
    "milvus_expr_filter",
    _EXPR_ORACLE,
    "expr",
    "filter",
    "search",
    "compiler",
)
def milvus_expr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15 Milvus filter expressions compiled to Column predicates and
    evaluated in one conditional-aggregation pass over ``part``.

    Entity mapping: scalars from part columns; ``tags`` = name words
    (ARRAY field); ``props`` = a JSON document with ``grade`` = size%5 and
    ``extra`` present iff pk%3==0 (to_json drops null fields — the JSON
    missing-key case `exists` needs); ``ptype`` lives ONLY in the $meta JSON
    (dynamic-field resolution). One scan for all 15 predicates; at 100 TB a
    single compiled predicate used as a filter pushes into the scan
    (tests/test_expr.py::test_pushdown_reaches_scan).
    """
    from milvus_cdc_spark.functions.expr import compile_expr

    p = _t(spark, sf_dir, "part")
    ent = p.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_size").alias("size"),
        F.col("p_retailprice").alias("price"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name"),
        F.split(F.col("p_name"), " ").alias("tags"),
        F.to_json(
            F.struct(
                (F.col("p_size") % 5).alias("grade"),
                F.when(F.col("p_partkey") % 3 == 0, F.lit("x")).alias("extra"),
            )
        ).alias("props"),
        F.to_json(F.struct(F.col("p_type").alias("ptype"))).alias("meta"),
    )
    fields = {c: ent[c] for c in ent.columns if c != "meta"}
    aggs = []
    for eid, src in MILVUS_EXPRS:
        pred = compile_expr(
            src, fields, meta_col=ent["meta"], json_fields=("props",)
        )
        aggs.append(F.sum(F.when(pred, 1).otherwise(0)).alias(f"n{eid[1:]}"))
        aggs.append(
            F.sum(F.when(pred, F.col("pk")).otherwise(0)).alias(f"s{eid[1:]}")
        )
    wide = ent.agg(*aggs)
    pairs = ", ".join(f"'{eid}', n{eid[1:]}, s{eid[1:]}" for eid, _ in MILVUS_EXPRS)
    return wide.select(
        F.expr(
            f"stack({len(MILVUS_EXPRS)}, {pairs}) AS (expr_id, n_match, sum_pk)"
        )
    ).orderBy("expr_id")


# ---------------------------------------------------------------------------
# IVF index BUILD (the training step ivf_topk consumes): deterministic
# Lloyd k-means — k lowest-id seeds, squared-L2 assignment with
# (dist, centroid_id) tie-break, per-dimension means rounded to 6
# decimals between iterations so both engines see bit-identical
# centroids (similarity.ivf_train docstring). The driver-checked
# projection reduces each centroid to canonicalizer-safe scalars
# (member count + rounded L2 norm); the array itself feeds ivf_topk.
# ---------------------------------------------------------------------------

_KM_DIM, _KM_K = 64, 8
_KM_INIT = ", ".join(
    f"CAST(embedding[{i + 1}] AS DOUBLE) AS d{i}" for i in range(_KM_DIM)
)
_KM_AVG = ", ".join(
    f"round(avg(embedding[{i + 1}]), 6) AS d{i}" for i in range(_KM_DIM)
)
_KM_DIST = " + ".join(
    f"(v.embedding[{i + 1}] - c.d{i}) * (v.embedding[{i + 1}] - c.d{i})"
    for i in range(_KM_DIM)
)
_KM_NORM = " + ".join(f"d{i} * d{i}" for i in range(_KM_DIM))


@q(
    "ivf_kmeans_build",
    f"""
    WITH c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             {_KM_INIT}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
    ),
    a0 AS (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN c0 c
      ) WHERE rn = 1
    ),
    c1 AS (
      SELECT centroid_id, {_KM_AVG} FROM a0 GROUP BY centroid_id
    ),
    a1 AS (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN c1 c
      ) WHERE rn = 1
    ),
    c2 AS (
      SELECT centroid_id, {_KM_AVG}, count(*) AS n_members
      FROM a1 GROUP BY centroid_id
    )
    SELECT centroid_id,
           CAST(n_members AS BIGINT) AS n_members,
           round(sqrt({_KM_NORM}), 4) AS c_norm
    FROM c2
    ORDER BY centroid_id
    """,
    "vector",
    "ivf",
    "kmeans",
    "build",
    "llm",
)
def ivf_kmeans_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed Lloyd k-means over the embeddings table
    (similarity.ivf_train, k=8, 2 iterations): one broadcast join + one
    k-group aggregation per iteration."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf
    from milvus_cdc_spark.partitioning import widen_small_scan

    # per-iteration k×dim L2 distance math otherwise runs inside the
    # single-split scan stage (keyed widen — no-op at real scale)
    emb = widen_small_scan(_t(spark, sf_dir, "embeddings"), "vec_id")
    cent = similarity.ivf_train(emb, k=_KM_K, iters=2, dim=_KM_DIM)
    return (
        cent.select(
            "centroid_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.round(vecf.norm(F.col("centroid")), 4).alias("c_norm"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# Product quantization (Milvus IVF_PQ family — index_type flows through
# the replicated CreateIndex DDL path; Jégou et al., TPAMI 2011). Two
# queries: codebook training (the deterministic per-subspace Lloyd
# k-means, oracle-mirrored exactly like ivf_kmeans_build) and ADC
# search recall@10 vs the exact squared-L2 top-k. The SQL mirrors the
# Spark plan CTE-for-stage; both engines round per-dimension means to 6
# decimals between iterations and the summed ADC distance to 6 before
# ranking, so ranks are cross-engine stable.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_DSUB = 4, 16, 16
_PQ_SUBV = " UNION ALL ".join(
    "SELECT vec_id, {s} AS sub_id, {cols} FROM embeddings".format(
        s=s,
        cols=", ".join(
            f"CAST(embedding[{s * _PQ_DSUB + i + 1}] AS DOUBLE) AS v{i}"
            for i in range(_PQ_DSUB)
        ),
    )
    for s in range(_PQ_M)
)
_PQ_VCOLS = ", ".join(f"v{i}" for i in range(_PQ_DSUB))
_PQ_SCOLS = ", ".join(f"s.v{i} AS v{i}" for i in range(_PQ_DSUB))
_PQ_DIST = " + ".join(
    f"(s.v{i} - c.v{i}) * (s.v{i} - c.v{i})" for i in range(_PQ_DSUB)
)
_PQ_AVG = ", ".join(f"round(avg(v{i}), 6) AS v{i}" for i in range(_PQ_DSUB))
_PQ_NORM = " + ".join(f"v{i} * v{i}" for i in range(_PQ_DSUB))


def _pq_assign_sql(cent_cte: str) -> str:
    return f"""
      SELECT * FROM (
        SELECT s.vec_id, s.sub_id, c.cid, {_PQ_SCOLS},
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                  ORDER BY {_PQ_DIST} ASC, c.cid) AS rn
        FROM subv s JOIN {cent_cte} c ON s.sub_id = c.sub_id
      ) WHERE rn = 1
    """


_PQ_TRAIN_CTES = f"""
    subv AS ({_PQ_SUBV}),
    c0 AS (
      SELECT sub_id,
             row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) - 1
               AS cid,
             {_PQ_VCOLS}
      FROM subv
      WHERE vec_id IN (SELECT vec_id FROM embeddings
                       ORDER BY vec_id LIMIT {_PQ_K})
    ),
    a0 AS ({_pq_assign_sql("c0")}),
    c1 AS (SELECT sub_id, cid, {_PQ_AVG} FROM a0 GROUP BY sub_id, cid),
    a1 AS ({_pq_assign_sql("c1")}),
    c2 AS (
      SELECT sub_id, cid, {_PQ_AVG}, count(*) AS n_members
      FROM a1 GROUP BY sub_id, cid
    )
"""


@q(
    "pq_codebooks",
    f"""
    WITH {_PQ_TRAIN_CTES}
    SELECT sub_id, cid AS centroid_id,
           CAST(n_members AS BIGINT) AS n_members,
           round(sqrt({_PQ_NORM}), 4) AS c_norm
    FROM c2
    ORDER BY sub_id, centroid_id
    """,
    "vector",
    "quantization",
    "pq",
    "build",
    "llm",
)
def pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training (similarity.pq_train, m=4, k=16, 2
    iterations): all four subspaces train in ONE broadcast join + one
    (m*k)-group map-side-combined aggregation per iteration."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf
    from milvus_cdc_spark.partitioning import widen_small_scan

    # per-iteration m×k sub-distance math off a single-split scan —
    # keyed widen (no-op at real scale)
    emb = widen_small_scan(_t(spark, sf_dir, "embeddings"), "vec_id")
    cb = similarity.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=2, dim=64)
    return (
        cb.select(
            "sub_id",
            "centroid_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.round(vecf.norm(F.col("centroid")), 4).alias("c_norm"),
        )
        .orderBy("sub_id", "centroid_id")
    )


@q(
    "pq_adc_recall",
    f"""
    WITH {_PQ_TRAIN_CTES},
    a2 AS ({_pq_assign_sql("c2")}),
    lut AS (
      SELECT s.vec_id AS query_id, s.sub_id, c.cid, {_PQ_DIST} AS d
      FROM (SELECT * FROM subv WHERE vec_id < 5) s
      JOIN c2 c ON s.sub_id = c.sub_id
    ),
    adist AS (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             round(sum(l.d), 6) AS adist
      FROM a2 cd JOIN lut l ON cd.sub_id = l.sub_id AND cd.cid = l.cid
      WHERE cd.vec_id != l.query_id
      GROUP BY l.query_id, cd.vec_id
    ),
    approx AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id) AS rank
        FROM adist
      ) WHERE rank <= 10
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SQL_L2SQ} ASC, c.vec_id) AS rank
        FROM embeddings c,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 10.0, 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    "vector",
    "quantization",
    "pq",
    "adc",
    "recall",
    "llm",
)
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (similarity.pq_encode + pq_adc_topk):
    the scan side touches only the byte codes — the float corpus is
    read once at encode time, never at query time — and recall@10 is
    measured against the exact squared-L2 top-k.

    r14 note (measured): keyed scan-widening was a wash here
    (interleaved A/B 1.03 then 0.96) — unlike pq_codebooks, this
    query's dominant cost is the probe/recall join chain, not the
    training scan. Left on the single scan. r15 re-ran the A/B on two
    calmer blocks per the verdict (0.99 then 1.03): wash reproduced."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    # cb feeds the encoder AND the query LUT; codes feed the ADC scan —
    # persist both so the per-subspace Lloyd training and the encode run
    # once (the index tables a real build writes)
    cb = cache(similarity.pq_train(emb, m=_PQ_M, k=_PQ_K, iters=2, dim=64))
    codes = cache(similarity.pq_encode(emb, cb, m=_PQ_M, dim=64))
    queries = emb.filter(F.col("vec_id") < 5)
    approx = similarity.pq_adc_topk(codes, cb, queries, k=10, m=_PQ_M, dim=64)
    exact = similarity.metric_topk(emb, queries, metric="l2", k=10)
    return similarity.recall_at_k(exact, approx).orderBy("query_id")


@q(
    "phrase_match_slop",
    f"""
    WITH toks AS ({_SQL_POS_TOKS})
    SELECT DISTINCT a.doc_id
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id
    WHERE a.tok = 'fast' AND b.tok = 'sort'
      AND (CASE WHEN b.pos > a.pos THEN b.pos - a.pos - 1
                ELSE a.pos - b.pos + 1 END) <= 2
    ORDER BY a.doc_id
    """,
    "text",
    "inverted-index",
    "phrase-match",
    "slop",
    "llm",
)
def phrase_match_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase match "fast sort"~2 (Milvus PHRASE_MATCH slop
    param): Lucene two-term move count — one intervening word, or the
    reversed adjacent phrase, both qualify. Posting-sized join, exactly
    the slop=0 plan plus a move-count predicate."""
    from milvus_cdc_spark.analytics import textrank

    docs = _t(spark, sf_dir, "documents")
    return textrank.phrase_match(docs, ["fast", "sort"], slop=2).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# Composite IVF_PQ (Milvus index_type=IVF_PQ): coarse k-means lists +
# PQ over the RESIDUAL, queries probe n_probe lists, ADC ranks the
# probed candidates. The oracle reproduces the ENTIRE index build —
# coarse Lloyd (kc*), L2 list assignment, residuals, per-subspace
# residual k-means (pc*), byte codes (pa2) — then the probe + LUT +
# ADC query path, CTE-for-stage against the Spark plan.
# ---------------------------------------------------------------------------

_IVFPQ_KC, _IVFPQ_NPROBE = 8, 2
_IVFPQ_RESID = ", ".join(
    f"(v.embedding[{j + 1}] - c.d{j}) AS r{j}" for j in range(_KM_DIM)
)
_IVFPQ_SUBV = " UNION ALL ".join(
    "SELECT vec_id, {s} AS sub_id, {cols} FROM resid".format(
        s=s,
        cols=", ".join(
            f"r{s * _PQ_DSUB + i} AS v{i}" for i in range(_PQ_DSUB)
        ),
    )
    for s in range(_PQ_M)
)
_IVFPQ_QSUB = " UNION ALL ".join(
    "SELECT query_id, coarse_id, {s} AS sub_id, {cols} FROM qres".format(
        s=s,
        cols=", ".join(
            f"r{s * _PQ_DSUB + i} AS v{i}" for i in range(_PQ_DSUB)
        ),
    )
    for s in range(_PQ_M)
)


def _ivfpq_km_assign(cent_cte: str, out_id: str, src: str, rn_bound: int) -> str:
    return f"""
      SELECT * FROM (
        SELECT v.vec_id AS {out_id}, c.centroid_id AS coarse_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM {src} v CROSS JOIN {cent_cte} c
      ) WHERE rn <= {rn_bound}
    """


@q(
    "ivf_pq_recall",
    f"""
    WITH kc0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             {_KM_INIT}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_IVFPQ_KC})
    ),
    ka0 AS MATERIALIZED (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN kc0 c
      ) WHERE rn = 1
    ),
    kc1 AS MATERIALIZED (SELECT centroid_id, {_KM_AVG} FROM ka0 GROUP BY centroid_id),
    ka1 AS MATERIALIZED (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN kc1 c
      ) WHERE rn = 1
    ),
    kc2 AS MATERIALIZED (SELECT centroid_id, {_KM_AVG} FROM ka1 GROUP BY centroid_id),
    kassign AS MATERIALIZED ({_ivfpq_km_assign("kc2", "vec_id", "embeddings", 1)}),
    resid AS MATERIALIZED (
      SELECT v.vec_id, a.coarse_id, {_IVFPQ_RESID}
      FROM embeddings v
      JOIN kassign a ON v.vec_id = a.vec_id
      JOIN kc2 c ON a.coarse_id = c.centroid_id
    ),
    subv AS MATERIALIZED ({_IVFPQ_SUBV}),
    pc0 AS MATERIALIZED (
      SELECT sub_id,
             row_number() OVER (PARTITION BY sub_id ORDER BY vec_id) - 1
               AS cid,
             {_PQ_VCOLS}
      FROM subv
      WHERE vec_id IN (SELECT vec_id FROM embeddings
                       ORDER BY vec_id LIMIT {_PQ_K})
    ),
    pa0 AS MATERIALIZED ({_pq_assign_sql("pc0")}),
    pc1 AS MATERIALIZED (SELECT sub_id, cid, {_PQ_AVG} FROM pa0 GROUP BY sub_id, cid),
    pa1 AS MATERIALIZED ({_pq_assign_sql("pc1")}),
    pc2 AS MATERIALIZED (SELECT sub_id, cid, {_PQ_AVG} FROM pa1 GROUP BY sub_id, cid),
    pa2 AS MATERIALIZED ({_pq_assign_sql("pc2")}),
    qprobe AS MATERIALIZED ({_ivfpq_km_assign(
        "kc2", "query_id",
        "(SELECT * FROM embeddings WHERE vec_id < 5)", _IVFPQ_NPROBE)}),
    qres AS MATERIALIZED (
      SELECT p.query_id, p.coarse_id, {_IVFPQ_RESID}
      FROM qprobe p
      JOIN embeddings v ON v.vec_id = p.query_id
      JOIN kc2 c ON p.coarse_id = c.centroid_id
    ),
    qsub AS MATERIALIZED ({_IVFPQ_QSUB}),
    lut AS MATERIALIZED (
      SELECT s.query_id, s.coarse_id, s.sub_id, c.cid AS code,
             {_PQ_DIST} AS d
      FROM qsub s JOIN pc2 c ON s.sub_id = c.sub_id
    ),
    adist AS MATERIALIZED (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             round(sum(l.d), 6) AS adist
      FROM pa2 cd
      JOIN kassign ka ON cd.vec_id = ka.vec_id
      JOIN lut l ON ka.coarse_id = l.coarse_id
              AND cd.sub_id = l.sub_id AND cd.cid = l.code
      WHERE cd.vec_id != l.query_id
      GROUP BY l.query_id, cd.vec_id
    ),
    approx AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id) AS rank
        FROM adist
      ) WHERE rank <= 10
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SQL_L2SQ} ASC, c.vec_id) AS rank
        FROM embeddings c,
             (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 10
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 10.0, 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    "vector",
    "quantization",
    "ivf-pq",
    "adc",
    "recall",
    "llm",
)
def ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite IVF_PQ (similarity.ivf_pq_build + ivf_pq_adc_topk,
    k_coarse=8, m=4, k_pq=16, n_probe=2): probe-pruned ADC over
    residual byte codes, recall@10 vs exact squared-L2.

    r14 note (measured): keyed scan-widening was a wash here
    (interleaved A/B 0.97 then 0.99) — this plan is driver-planning-
    bound (stage profile: ~1 s of stage wall in a 5.8-7.1 s run, the
    rest Catalyst on the ~1046-operator composite plan), so widening
    the scans moves nothing. Lineage truncation was separately measured
    and rejected in r11 (see the checkpoint note below)."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    # The build persists its outputs (localCheckpoint measured REVERT,
    # r11): an early unbalanced A/B suggested localCheckpoint-ing the
    # index between build and probe saved 17%, but the balanced re-run
    # (B A A B B A A B B A with a per-iteration canary, stable
    # 0.24-0.47) measured persist 3.8 s vs
    # checkpoint 7.7 s median at sf0.1 — checkpointed leaves lose
    # Catalyst statistics and ReusedExchange, costing far more than the
    # lineage re-planning saves. Full numbers in SCALE.md §5r.
    coarse, assigned, cb, codes = similarity.ivf_pq_build(
        emb, k_coarse=_IVFPQ_KC, m=_PQ_M, k_pq=_PQ_K, dim=64
    )
    queries = emb.filter(F.col("vec_id") < 5)
    approx = similarity.ivf_pq_adc_topk(
        queries, coarse, assigned, cb, codes,
        k=10, n_probe=_IVFPQ_NPROBE, m=_PQ_M, dim=64,
    )
    exact = similarity.metric_topk(emb, queries, metric="l2", k=10)
    return similarity.recall_at_k(exact, approx).orderBy("query_id")


# ---------------------------------------------------------------------------
# SUBSTRUCTURE / SUPERSTRUCTURE binary metrics (Milvus metric_type for
# BinaryVector, the chemical-fingerprint containment search): distance
# 1 - |q AND c|/|q| is zero iff the stored vector CONTAINS the query.
# The query masks alternating bits out of three stored fingerprints —
# each original is a strict superstructure of its masked fragment and
# must rank at distance 0.
# ---------------------------------------------------------------------------

_SQL_SUPER = """
  (1.0 - (bit_count(q.w0 & c.w0) + bit_count(q.w1 & c.w1))::DOUBLE
       / greatest(bit_count(q.w0) + bit_count(q.w1), 1))
"""


@q(
    "superstructure_search",
    f"""
    WITH packed AS (
      SELECT vec_id, {_SQL_W0} AS w0, {_SQL_W1} AS w1 FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id,
             w0 & 1431655765 AS w0, w1 & 1431655765 AS w1
      FROM packed WHERE vec_id < 3
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round({_SQL_SUPER}, 6) AS distance
      FROM packed c, q
    ),
    ranked AS (
      SELECT query_id, neighbor_id, distance,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY distance ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, distance
    FROM ranked WHERE rank <= 3
    ORDER BY query_id, rank
    """,
    "vector",
    "search",
    "metric-type",
    "superstructure",
    "llm",
)
def superstructure_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUPERSTRUCTURE top-k (vector.superstructure_words): queries are
    alternating-bit fragments (mask 0x55555555) of three stored
    fingerprints; each original contains its fragment and ranks first
    at distance 0. Broadcast query side, popcount word math JVM-side.

    r14 note (measured): corpus-side scan-widening was inside noise here
    (interleaved A/B 0.87 then 0.96) — per the keep-only-clear-winners
    rule it stays on the single scan; only the maxsim scorers widen."""
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    packed = emb.select(
        "vec_id", vecf.sign_words_i64(F.col("embedding"), 64).alias("words")
    )
    mask = 0x55555555
    q = packed.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.transform(F.col("words"), lambda w: w.bitwiseAND(F.lit(mask))).alias(
            "qwords"
        ),
    )
    # hand-written, not ``similarity.search_pairs``: each query is a
    # fragment of a stored row and must match that row at distance 0, so
    # no self pair is dropped
    scored = packed.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            vecf.superstructure_words(F.col("qwords"), F.col("words")), 6
        ).alias("distance"),
    )
    order = [F.col("distance").asc(), F.col("neighbor_id").asc()]
    return (
        windows.top_k(scored, "query_id", order, 3)
        .select("query_id", "rank", "neighbor_id", "distance")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# search_iterator parity (milvus.io Search Iterator): iterating a search
# result does NOT re-rank from offset 0 — the cursor is the last row's
# (distance, id) and the next page applies a keyset predicate on the
# scored frame. Page 2 of query vec 0's cosine ranking: the cursor is
# derived in-query (rank-5 row) so the oracle mirrors it exactly; the
# page materializes via TakeOrderedAndProject, cost O(page), not
# O(offset + page).
# ---------------------------------------------------------------------------


@q(
    "search_iterator_page",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id AS neighbor_id, {_SQL_COSINE} AS sim
      FROM embeddings c, q WHERE c.vec_id != q.vec_id
    ),
    cur AS (
      SELECT neighbor_id AS cid, sim AS csim FROM (
        SELECT neighbor_id, sim,
               row_number() OVER (ORDER BY sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn = 5
    )
    SELECT s.neighbor_id, s.sim
    FROM scored s, cur
    WHERE s.sim < cur.csim OR (s.sim = cur.csim AND s.neighbor_id > cur.cid)
    ORDER BY s.sim DESC, s.neighbor_id
    LIMIT 5
    """,
    "vector",
    "search",
    "iterator",
    "keyset",
    "llm",
)
def search_iterator_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second page (rows 6-10) of a cosine search via the iterator's
    (distance, id) keyset cursor — never re-ranks the first page."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = similarity.search_pairs(
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")),
        q,
        F.round(vecf.cosine(F.col("cvec"), F.col("qvec")), 6).alias("sim"),
        id_col="neighbor_id",
    )
    # cursor = the page-1 tail row. TakeOrderedAndProject (orderBy+limit)
    # + a 5-row min-of-struct — NOT a global row_number window, which
    # would funnel the whole scored frame through one task. Under the
    # page order (sim desc, id asc) the last row is the lexicographic
    # min of (sim, -id).
    cur = (
        scored.orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
        .limit(5)
        .agg(
            F.min(
                F.struct(F.col("sim"), (-F.col("neighbor_id")).alias("nid"))
            ).alias("_b")
        )
        .select(
            F.col("_b.sim").alias("_csim"), (-F.col("_b.nid")).alias("_cid")
        )
    )
    return (
        scored.crossJoin(F.broadcast(cur))
        .filter(
            (F.col("sim") < F.col("_csim"))
            | ((F.col("sim") == F.col("_csim")) & (F.col("neighbor_id") > F.col("_cid")))
        )
        .select("neighbor_id", "sim")
        .orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Milvus 2.6 decay ranker (gauss form): rescale cosine hits by their
# distance from an origin on a numeric field — freshness/recency-aware
# ranking as a pure rescoring pass. The sigma^2 constant is computed
# once in Python and injected into BOTH the Spark plan and the oracle
# SQL as the identical double literal, so the engines exponentiate the
# same number.
# ---------------------------------------------------------------------------

import math as _math

_DECAY_SIGMA2 = -(200.0 * 200.0) / (2.0 * _math.log(0.5))


@q(
    "decay_reranked_search",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id AS neighbor_id, {_SQL_COSINE} AS sim
      FROM embeddings c, q WHERE c.vec_id != q.vec_id
    ),
    top AS (
      SELECT * FROM (
        SELECT neighbor_id, sim,
               row_number() OVER (ORDER BY sim DESC, neighbor_id) AS rn
        FROM scored
      ) WHERE rn <= 10
    ),
    rescored AS (
      SELECT neighbor_id, sim,
             round(sim * exp(
               -(greatest(0.0, abs(CAST(neighbor_id AS DOUBLE) - 0.0) - 50.0)
                 * greatest(0.0, abs(CAST(neighbor_id AS DOUBLE) - 0.0) - 50.0))
               / {2.0 * _DECAY_SIGMA2!r}), 6) AS decayed_score
      FROM top
    )
    SELECT neighbor_id, sim, decayed_score
    FROM rescored
    ORDER BY decayed_score DESC, neighbor_id
    LIMIT 5
    """,
    "vector",
    "search",
    "rerank",
    "decay",
    "llm",
)
def decay_reranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gauss decay rerank (similarity.decay_rerank) of the cosine top-10
    for query vec 0 on the neighbor_id axis (origin 0, offset 50,
    scale 200, decay 0.5): hits within 50 keep their score, a hit at
    250 is halved — the final order interleaves similarity with
    'recency'."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0)
    top = similarity.brute_force_topk(emb, queries, k=10)
    rescored = similarity.decay_rerank(
        top, field="neighbor_id", function="gauss",
        origin=0.0, scale=200.0, offset=50.0, decay=0.5,
    )
    return (
        rescored.select("neighbor_id", "sim", "decayed_score")
        .orderBy(F.col("decayed_score").desc(), F.col("neighbor_id").asc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# MMR diversified reranking (Carbonell & Goldstein SIGIR'98) of a top-8
# cosine pool, k=3, lambda=0.7 — the greedy argmax unrolls into three
# CTE steps in the oracle exactly as it unrolls into the Spark plan.
# ---------------------------------------------------------------------------


def _sql_cos(xe: str, ye: str) -> str:
    return f"""
      round(
        list_sum(list_transform(list_zip({xe}, {ye}), p -> p[1] * p[2]))
        / (sqrt(list_sum(list_transform({xe}, x -> x * x)))
           * sqrt(list_sum(list_transform({ye}, x -> x * x)))), 6)
    """


@q(
    "mmr_diversified_search",
    f"""
    WITH cand0 AS (
      SELECT c.vec_id AS id, {_SQL_COSINE} AS sim, c.embedding::DOUBLE[] AS emb
      FROM embeddings c,
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0) q
      WHERE c.vec_id != q.vec_id
    ),
    cand AS (
      SELECT id, sim, emb FROM (
        SELECT id, sim, emb, row_number() OVER (ORDER BY sim DESC, id) AS rn
        FROM cand0
      ) WHERE rn <= 8
    ),
    pair AS (
      SELECT x.id AS a, y.id AS b, {_sql_cos("x.emb", "y.emb")} AS psim
      FROM cand x JOIN cand y ON x.id != y.id
    ),
    s1 AS (
      SELECT id, round(0.7 * sim, 6) AS mmr FROM cand
      ORDER BY round(0.7 * sim, 6) DESC, id LIMIT 1
    ),
    m2 AS (
      SELECT c.id, round(0.7 * c.sim - 0.3 * p.psim, 6) AS mmr
      FROM cand c JOIN pair p ON p.a = c.id AND p.b = (SELECT id FROM s1)
      WHERE c.id != (SELECT id FROM s1)
    ),
    s2 AS (SELECT id, mmr FROM m2 ORDER BY mmr DESC, id LIMIT 1),
    m3 AS (
      SELECT c.id,
             round(0.7 * c.sim - 0.3 * max(p.psim), 6) AS mmr
      FROM cand c JOIN pair p ON p.a = c.id
       AND p.b IN ((SELECT id FROM s1), (SELECT id FROM s2))
      WHERE c.id NOT IN ((SELECT id FROM s1), (SELECT id FROM s2))
      GROUP BY c.id, c.sim
    ),
    s3 AS (SELECT id, mmr FROM m3 ORDER BY mmr DESC, id LIMIT 1)
    SELECT 1 AS rank, id AS neighbor_id, mmr AS mmr_score FROM s1
    UNION ALL
    SELECT 2, id, mmr FROM s2
    UNION ALL
    SELECT 3, id, mmr FROM s3
    ORDER BY rank
    """,
    "vector",
    "search",
    "rerank",
    "mmr",
    "diversity",
    "llm",
)
def mmr_diversified_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (lambda=0.7, k=3) over the cosine top-8 of query vec 0
    (similarity.mmr_rerank): relevance traded against redundancy; the
    greedy loop unrolls into the plan, one broadcast 1-row pick per
    step, no collects."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0)
    cand = similarity.brute_force_topk(emb, queries, k=8).select(
        "neighbor_id", "sim"
    )
    vecs = emb.select("vec_id", "embedding")
    cv = cand.join(vecs, cand["neighbor_id"] == vecs["vec_id"]).select(
        F.col("neighbor_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    pairwise = (
        cv.alias("x")
        .crossJoin(F.broadcast(cv.alias("y")))
        .filter(F.col("x.cid") != F.col("y.cid"))
        .select(
            F.col("x.cid").alias("a"),
            F.col("y.cid").alias("b"),
            F.round(vecf.cosine(F.col("x.cemb"), F.col("y.cemb")), 6).alias("psim"),
        )
    )
    return similarity.mmr_rerank(cand, pairwise, k=3, lam=0.7).orderBy("rank")


# ---------------------------------------------------------------------------
# Embedding-space domain drift: per-label centroid distance from the
# global centroid — the embedding-analytics check a data pipeline runs
# to spot domains drifting away from the corpus (or an ingestion batch
# whose embedding distribution shifted). Centroids round to 6dp per
# dimension BEFORE the distance (the ivf_train contract), so the
# distance arithmetic is exact cross-engine.
# ---------------------------------------------------------------------------

_DRIFT_DIST = " + ".join(
    f"(l.d{i} - g.d{i}) * (l.d{i} - g.d{i})" for i in range(_KM_DIM)
)


@q(
    "label_centroid_drift",
    f"""
    WITH per_label AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, {_KM_AVG}
      FROM embeddings GROUP BY label
    ),
    global_c AS (SELECT {_KM_AVG} FROM embeddings)
    SELECT l.label, l.n_vecs,
           round(sqrt({_DRIFT_DIST}), 6) AS drift
    FROM per_label l CROSS JOIN global_c g
    ORDER BY l.label
    """,
    "vector",
    "analytics",
    "drift",
    "llm",
)
def label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid L2 distance from the global
    centroid: one map-side-combined aggregate per side, 1-row global
    broadcast — embedding-distribution drift monitoring at corpus
    scale."""
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")

    def cent(df, *keys):
        return df.groupBy(*keys).agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.array(
                *[
                    F.round(F.avg(F.element_at(F.col("embedding"), i + 1)), 6)
                    for i in range(_KM_DIM)
                ]
            ).alias("c"),
        )

    per_label = cent(emb, "label")
    global_c = cent(emb).select(F.col("c").alias("gc"))
    return (
        per_label.crossJoin(F.broadcast(global_c))
        .select(
            "label",
            "n_vecs",
            F.round(vecf.l2(F.col("c"), F.col("gc")), 6).alias("drift"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Milvus 2.6 RANDOM_SAMPLE(p) filter function: the engine substitutes
# the deterministic md5-nibble permille gate for Milvus's per-query RNG
# (documented determinism trade — reproducible, oracle-checkable). The
# gate composes with ordinary predicates inside one compiled expression.
# ---------------------------------------------------------------------------

_RS_NIB = (
    "((strpos('0123456789abcdef', substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(CAST(p_partkey AS VARCHAR)), 2, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(p_partkey AS VARCHAR)), 3, 1)) - 1))"
)


@q(
    "random_sample_filter",
    f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(p_partkey) AS BIGINT) AS sum_pk
    FROM part
    WHERE p_size > 20 AND ({_RS_NIB} % 1000) < 250
    GROUP BY p_brand
    ORDER BY p_brand
    """,
    "expr",
    "random-sample",
    "search",
    "compiler",
)
def random_sample_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM_SAMPLE inside a compiled Milvus filter
    (functions.expr.compile_expr sample_key=p_partkey): `p_size > 20 and
    random_sample(0.25)` — per-brand kept counts. The gate is a pure
    column predicate, so it pushes into the scan with the rest of the
    filter."""
    from milvus_cdc_spark.functions.expr import compile_expr

    p = _t(spark, sf_dir, "part")
    pred = compile_expr(
        "p_size > 20 and random_sample(0.25)",
        p,
        sample_key=F.col("p_partkey"),
    )
    return (
        p.filter(pred)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("p_partkey").cast("bigint").alias("sum_pk"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Hashed text embedding + cosine search (the hashing trick, Weinberger
# et al. ICML'09): the model-free analog of Milvus 2.6 text-embedding
# Functions — text feeds the vector-search surface with no external
# model. Components are exact signed integer counts, so dot/norms are
# integer math in both engines; the single float op is the final
# cosine. The oracle rebuilds the 64 conditional sums symbolically.
# ---------------------------------------------------------------------------

_HE_DIM = 64
_HE_SUMS = ", ".join(
    f"CAST(sum(CASE WHEN d = {i} THEN sign ELSE 0 END) AS BIGINT) AS v{i}"
    for i in range(_HE_DIM)
)
_HE_N2 = " + ".join(f"v{i} * v{i}" for i in range(_HE_DIM))
_HE_DOT = " + ".join(f"q.v{i} * c.v{i}" for i in range(_HE_DIM))


@q(
    "hashed_embedding_search",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
               % {_HE_DIM} AS d,
             CASE WHEN strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1
                       >= 8
                  THEN 1 ELSE -1 END AS sign
      FROM toks
    ),
    sums AS MATERIALIZED (
      SELECT doc_id, {_HE_SUMS} FROM hashed GROUP BY doc_id
    ),
    withn AS MATERIALIZED (
      SELECT *, {_HE_N2} AS n2 FROM sums
    ),
    scored AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             round(({_HE_DOT}) / sqrt(CAST(q.n2 AS DOUBLE) * c.n2), 6)
               AS cosine
      FROM withn q JOIN withn c
        ON q.doc_id IN (0, 1, 2) AND c.doc_id != q.doc_id
       AND q.n2 > 0 AND c.n2 > 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, rnk, neighbor_id, cosine
    FROM ranked WHERE rnk <= 5
    ORDER BY query_id, rnk
    """,
    "vector",
    "embedding",
    "hashing-trick",
    "search",
    "llm",
)
def hashed_embedding_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embed every document with the 64-dim hashing trick
    (similarity.hashed_embedding), then cosine top-5 neighbors for query
    docs 0-2 — text-to-vector-search with zero external models; integer
    dot/norm arithmetic end to end."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf
    from milvus_cdc_spark.partitioning import widen_small_scan

    # the tokenize + per-token md5 hashing of every document otherwise
    # runs inside the single-split documents scan stage (keyed widen —
    # no-op at real scale)
    docs = widen_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    emb = similarity.hashed_embedding(docs, dim=_HE_DIM)
    n2 = F.aggregate(
        F.col("vec"), F.lit(0).cast("bigint"), lambda a, x: a + x * x
    )
    withn = emb.select("doc_id", "vec", n2.alias("n2")).filter(F.col("n2") > 0)
    q_side = withn.filter(F.col("doc_id").isin(0, 1, 2)).select(
        F.col("doc_id").alias("query_id"),
        F.col("vec").alias("qv"),
        F.col("n2").alias("qn2"),
    )
    dot = vecf.dot_i64(F.col("qv"), F.col("vec"))
    scored = similarity.search_pairs(
        withn,
        q_side,
        F.round(
            dot / F.sqrt((F.col("qn2") * F.col("n2")).cast("double")), 6
        ).alias("cosine"),
        id_col="doc_id",
    )
    order = [F.col("cosine").desc(), F.col("neighbor_id")]
    return (
        windows.top_k(scored, "query_id", order, 5, rank="rnk")
        .select("query_id", "rnk", "neighbor_id", "cosine")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncated-dimension search (Kusupati et al., NeurIPS
# 2022): MRL-trained embeddings keep most of their signal in their
# prefix, so ANN can run on the first d' dims at d'/d the cost and
# rerank/verify at full width. Recall@3 of 16-of-64-dim cosine search
# vs the full-width exact top-3 — the dimension-truncation analog of
# the SQ8/PQ/binary quantization recall queries.
# ---------------------------------------------------------------------------

_MRL_D = 16
_MRL_COSINE = f"""
  round(
    list_sum(list_transform(
        list_zip((c.embedding::DOUBLE[])[1:{_MRL_D}],
                 (q.embedding::DOUBLE[])[1:{_MRL_D}]),
        p -> p[1] * p[2]))
    / (sqrt(list_sum(list_transform((c.embedding::DOUBLE[])[1:{_MRL_D}],
                                    x -> x * x)))
       * sqrt(list_sum(list_transform((q.embedding::DOUBLE[])[1:{_MRL_D}],
                                      x -> x * x)))),
    6)
"""


@q(
    "mrl_truncated_recall",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    approx AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_MRL_COSINE} DESC, c.vec_id) AS rank
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_SQL_COSINE} DESC, c.vec_id) AS rank
        FROM embeddings c, q WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / 3.0, 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
    "vector",
    "matryoshka",
    "truncation",
    "recall",
    "llm",
)
def mrl_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of cosine search on the first 16 of 64 dims vs the
    full-width exact top-3 (similarity.brute_force_topk over F.slice).
    The truncated pass is the cheap candidate stage of an MRL funnel;
    full-width rerank restores the tail."""
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MRL_D).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    q_trunc = trunc.filter(F.col("vec_id") < 5)
    approx = similarity.brute_force_topk(trunc, q_trunc, k=3)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    return similarity.recall_at_k(exact, approx).orderBy("query_id")


# ---------------------------------------------------------------------------
# Milvus `get()` — batched primary-key point lookup (MilvusClient.get /
# query(ids=[...])): an IN-list over the PK with a projected field set.
# The literal id list compiles to a parquet `In` pushed filter, so at
# 100 TB the scan prunes row groups on PK min/max statistics and reads
# only the projected columns — no shuffle at all.
# ---------------------------------------------------------------------------

_GET_IDS = tuple(i * 37 for i in range(14))  # 0..481, present at every SF


@q(
    "pk_get_by_ids",
    f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN ({", ".join(str(i) for i in _GET_IDS)})
    ORDER BY doc_id
    """,
    "search",
    "get",
    "point-lookup",
)
def pk_get_by_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Milvus get(ids=[...], output_fields=[...]) as a pushed IN-list
    point lookup (tests/test_plans.py asserts the In filter reaches the
    scan)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id").isin(*_GET_IDS))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Milvus query(filter=expr, output_fields=["count(*)"]) — the count-only
# query path (milvus.io "Get Entity Count"). The expr goes through the
# same compiler as the filter surface; count(*) collapses the scan to a
# partial-count aggregate, never materializing rows.
# ---------------------------------------------------------------------------


@q(
    "expr_count_star",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_entities,
           CAST(coalesce(sum(p_partkey), 0) AS BIGINT) AS sum_pk
    FROM part
    WHERE p_size IN (1, 2, 3)
       OR (p_retailprice >= 1500 AND p_brand LIKE 'Brand#1%')
    """,
    "expr",
    "query",
    "count",
)
def expr_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*) with a compiled Milvus filter expression — the
    query(output_fields=["count(*)"]) surface. The predicate compiles to
    a Catalyst expression, so the count runs as scan + partial count
    with the disjunction pushed to parquet."""
    from milvus_cdc_spark.functions.expr import compile_expr

    p = _t(spark, sf_dir, "part")
    ent = p.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_size").alias("size"),
        F.col("p_retailprice").alias("price"),
        F.col("p_brand").alias("brand"),
    )
    pred = compile_expr(
        'size in [1, 2, 3] or (price >= 1500 and brand like "Brand#1%")',
        ent,
    )
    return ent.filter(pred).agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.coalesce(F.sum("pk"), F.lit(0)).cast("bigint").alias("sum_pk"),
    )


# ---------------------------------------------------------------------------
# Range search, annulus ("ring") form: radius <= sim < range_filter —
# milvus.io range-search with BOTH bounds (the outer bound excludes
# self-similar near-exact matches the caller already has).
# ---------------------------------------------------------------------------


@q(
    "range_search_annulus",
    f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, sim
    FROM scored WHERE sim >= 0.2 AND sim < 0.6
    ORDER BY query_id, sim DESC, neighbor_id
    """,
    "vector",
    "search",
    "range-search",
    "llm",
)
def range_search_annulus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from milvus_cdc_spark.analytics import similarity

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.range_search(
        emb, queries, radius=0.2, range_filter=0.6
    ).orderBy("query_id", F.col("sim").desc(), "neighbor_id")


# ---------------------------------------------------------------------------
# Hard-negative mining for embedding-model training (DPR / contrastive
# fine-tuning): for each anchor, the most-SIMILAR candidates with a
# DIFFERENT label — maximally confusable negatives. The label-mismatch
# predicate applies BEFORE ranking (same filter-before-distance contract
# as filtered search); query side broadcast, corpus never shuffled.
# ---------------------------------------------------------------------------


@q(
    "hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id, label, embedding FROM embeddings
               WHERE vec_id < 8),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS neighbor_label, {_SQL_COSINE} AS sim
      FROM embeddings c, q
      WHERE c.vec_id != q.vec_id AND c.label != q.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS rn
      FROM scored
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id,
           neighbor_label, sim
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, rank
    """,
    "vector",
    "search",
    "hard-negative",
    "llm",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hardest negatives (most-similar different-label vectors)
    per anchor — contrastive-training negative mining."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    q_side = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = similarity.search_pairs(
        emb,
        q_side,
        F.col("label").alias("neighbor_label"),
        F.round(vecf.cosine(F.col("embedding"), F.col("q_emb")), 6).alias("sim"),
        where=F.col("label") != F.col("q_label"),
    )
    order = [F.col("sim").desc(), F.col("neighbor_id").asc()]
    return (
        windows.top_k(scored, "query_id", order, 5)
        .select("query_id", "rank", "neighbor_id", "neighbor_label", "sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Clustering quality: simplified silhouette per final k-means cluster —
# the IVF index-build health signal (merge/re-train candidates). The
# oracle replays the full 2-iteration Lloyd build (same CTE chain as
# ivf_kmeans_build) then the two-nearest-centroid silhouette, all in
# integer micro-units.
# ---------------------------------------------------------------------------

_SIL_DIST_V = " + ".join(
    f"(v.embedding[{i + 1}] - c.d{i}) * (v.embedding[{i + 1}] - c.d{i})"
    for i in range(_KM_DIM)
)


@q(
    "kmeans_silhouette",
    f"""
    WITH c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             {_KM_INIT}
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
    ),
    a0 AS (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN c0 c
      ) WHERE rn = 1
    ),
    c1 AS (
      SELECT centroid_id, {_KM_AVG} FROM a0 GROUP BY centroid_id
    ),
    a1 AS (
      SELECT * FROM (
        SELECT v.vec_id, c.centroid_id, v.embedding,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {_KM_DIST} ASC, c.centroid_id)
                 AS rn
        FROM embeddings v CROSS JOIN c1 c
      ) WHERE rn = 1
    ),
    c2 AS (
      SELECT centroid_id, {_KM_AVG} FROM a1 GROUP BY centroid_id
    ),
    ranked AS (
      SELECT v.vec_id, c.centroid_id,
             sqrt({_SIL_DIST_V}) AS d,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY sqrt({_SIL_DIST_V}) ASC,
                                         c.centroid_id)
               AS rn
      FROM embeddings v CROSS JOIN c2 c
    ),
    own AS (
      SELECT vec_id, centroid_id AS own_id, d AS a
      FROM ranked WHERE rn = 1
    ),
    second AS (SELECT vec_id, d AS b FROM ranked WHERE rn = 2),
    scored AS (
      SELECT o.own_id AS centroid_id,
             CAST(floor(CASE WHEN greatest(a, b) = 0 THEN 0.0
                             ELSE (b - a) / greatest(a, b) END * 1e6 + 0.5)
                  AS BIGINT) AS s_micro
      FROM own o JOIN second s USING (vec_id)
    )
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(s_micro) // count(*) AS BIGINT) AS avg_sil_micro,
           min(s_micro) AS min_sil_micro,
           max(s_micro) AS max_sil_micro
    FROM scored
    GROUP BY centroid_id
    ORDER BY centroid_id
    """,
    "vector",
    "kmeans",
    "clustering",
    "quality",
    "llm",
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the deterministic Lloyd
    build (similarity.ivf_train -> silhouette_stats)."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.partitioning import widen_small_scan

    # r14 stage profile: 15 single-task CPU-bound stages (~1.9 s wall)
    # — the Lloyd + silhouette distance math serialized in the
    # single-split scan stage; keyed widen spreads it (no-op at scale)
    emb = widen_small_scan(_t(spark, sf_dir, "embeddings"), "vec_id")
    cent = similarity.ivf_train(emb, k=_KM_K, iters=2, dim=_KM_DIM)
    return similarity.silhouette_stats(
        emb, cent.select("centroid_id", "centroid")
    ).orderBy("centroid_id")


# ---------------------------------------------------------------------------
# IVF nprobe recall curve: macro recall@3 vs exact for n_probe in
# {1, 2, 4} in one result — the index-tuning evidence (milvus.io IVF
# search params: nprobe trades recall for probed-list cost). Counts are
# BIGINT-exact: matched / possible in parts-per-million.
# ---------------------------------------------------------------------------


def _ivf_nprobe_oracle() -> str:
    probe_blocks = []
    for n in (1, 2, 4):
        probe_blocks.append(f"""
    approx_{n} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY s.sim DESC, s.neighbor_id) AS rank
        FROM (
          SELECT p.vec_id AS query_id, ca.vec_id AS neighbor_id,
                 {{cos}} AS sim
          FROM probes p
          JOIN corpus_assign ca ON ca.centroid_id = p.centroid_id
          JOIN embeddings c ON c.vec_id = ca.vec_id
          JOIN embeddings q ON q.vec_id = p.vec_id
          WHERE p.r <= {n} AND ca.vec_id != p.vec_id
        ) s
      ) WHERE rank <= 3
    ),
    rec_{n} AS (
      SELECT {n} AS n_probe,
             CAST(count(a.neighbor_id) AS BIGINT) AS matched,
             CAST(count(*) AS BIGINT) AS possible
      FROM exact_k e LEFT JOIN approx_{n} a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    )""")
    blocks = ",".join(probe_blocks)
    cos = _SQL_COSINE
    sql = f"""
    WITH cen AS (
      SELECT vec_id AS centroid_id, embedding FROM embeddings
      WHERE vec_id BETWEEN 100 AND 115
    ),
    corpus_assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT c.vec_id, q.centroid_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {cos} DESC, q.centroid_id
               ) AS r
        FROM embeddings c,
             (SELECT centroid_id, vec_id, embedding FROM cen) q
      ) WHERE r = 1
    ),
    probes AS (
      SELECT c.vec_id, q.centroid_id,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {cos} DESC, q.centroid_id
             ) AS r
      FROM (SELECT * FROM embeddings WHERE vec_id < 8) c,
           (SELECT centroid_id, vec_id, embedding FROM cen) q
    ),
    exact_k AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, c.vec_id) AS rank
        FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id < 8) q
        WHERE c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ),
    {blocks}
    SELECT n_probe, matched, possible,
           CAST(matched * 1000000 // possible AS BIGINT) AS recall_ppm
    FROM (SELECT * FROM rec_1 UNION ALL SELECT * FROM rec_2
          UNION ALL SELECT * FROM rec_4)
    ORDER BY n_probe
    """
    return sql.replace("{cos}", cos)


@q(
    "ivf_nprobe_recall_curve",
    _ivf_nprobe_oracle(),
    "vector",
    "ivf",
    "nprobe",
    "recall",
    "llm",
)
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro recall@3 of IVF search at n_probe 1/2/4 against exact
    brute force — one row per probe setting, computed from ONE scored
    candidate frame.

    r15 rewrite (verdict #4): the old shape ran ivf_topk once per probe
    setting — three near-identical probe/score/rank subtrees plus a
    union, i.e. Catalyst re-planned the same pipeline three times. The
    probe assignments for every n are a PREFIX of one (csim desc,
    centroid_id asc) ranking, so one max-setting assignment carrying
    ``probe_rank`` (similarity.ivf_assign with_rank=True) scores the
    corpus ONCE; exploding the (1,2,4) settings over the candidates and
    filtering ``probe_rank <= n_probe`` reproduces each setting's
    candidate set exactly (a corpus vector lives in exactly one list).
    One ranking window partitioned by (n_probe, query_id) — the same
    (sim desc, neighbor_id asc) order as brute_force_topk — then one grouped
    aggregation replaces the three global aggregates + union. Measured:
    plan 34 → 18 exchanges (plans/r15), interleaved A/B 0.719 at sf0.1
    (4.35 → 3.13 s median); oracle-green at sf0.001/0.01/0.1.

    r14 note (measured): keyed scan-widening REGRESSED here
    (interleaved A/B 1.18) — the probe sweep re-reads the widened
    exchange from every consumer and the exact side already widens
    inside brute_force_topk. Left on the single scan."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    centroids = emb.filter(F.col("vec_id").between(100, 115))
    # exact and the corpus list assignment are re-referenced across the
    # sweep — compute each once (the scan audit counted 24 parquet scans
    # in the unpersisted plan)
    exact = cache(similarity.brute_force_topk(emb, queries, k=3).select(
        "query_id", "neighbor_id"
    ))
    corpus_lists = cache(similarity.ivf_assign(emb, centroids, n_probe=1))

    probes = similarity.ivf_assign(
        queries, centroids, n_probe=4, with_rank=True
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        vecf.norm(F.col("embedding")).alias("cnorm"),
    ).join(
        corpus_lists.select(
            F.col("vec_id").alias("neighbor_id"), "centroid_id"
        ),
        "neighbor_id",
    )
    qside = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        vecf.norm(F.col("embedding")).alias("qnorm"),
    ).join(
        probes.select(
            F.col("vec_id").alias("query_id"), "centroid_id", "probe_rank"
        ),
        "query_id",
    )
    scored = similarity.search_pairs(
        c,
        qside,
        "probe_rank",
        F.round(
            vecf.dot(F.col("cvec"), F.col("qvec"))
            / (F.col("cnorm") * F.col("qnorm")),
            6,
        ).alias("sim"),
        on="centroid_id",
        id_col="neighbor_id",
    )
    settings = F.explode(F.array(F.lit(1), F.lit(2), F.lit(4)))
    cand = scored.withColumn("n_probe", settings).filter(
        F.col("probe_rank") <= F.col("n_probe")
    )
    order = [F.col("sim").desc(), F.col("neighbor_id").asc()]
    approx = (
        windows.top_k(cand, ["n_probe", "query_id"], order, 3, rank=None)
        .select(
            F.col("n_probe").alias("_np"),
            F.col("query_id").alias("_qid"),
            F.col("neighbor_id").alias("_aid"),
        )
    )
    base = exact.withColumn("n_probe", settings)
    return (
        base.join(
            approx,
            (base["n_probe"] == approx["_np"])
            & (base["query_id"] == approx["_qid"])
            & (base["neighbor_id"] == approx["_aid"]),
            "left",
        )
        .groupBy(F.col("n_probe").cast("int").alias("n_probe"))
        .agg(
            F.count("_aid").cast("bigint").alias("matched"),
            F.count("*").cast("bigint").alias("possible"),
        )
        .withColumn(
            "recall_ppm",
            F.expr("matched * 1000000 DIV possible").cast("bigint"),
        )
        .orderBy("n_probe")
    )


# ---------------------------------------------------------------------------
# Milvus 2.6 GEOMETRY filters: POINT entities (WKT roundtrip exercised
# in-plan) filtered by st_within (bbox), st_dwithin (radius), and
# st_contains over a literal query polygon — the unrolled even-odd ray
# cast (functions/geo.py). Points derive deterministically from part.
# ---------------------------------------------------------------------------

_GEO_TRI = [(-40.0, -40.0), (40.0, -40.0), (0.0, 40.0)]


def _geo_oracle() -> str:
    from milvus_cdc_spark.functions.geo import sql_contains_polygon

    poly = sql_contains_polygon("x", "y", _GEO_TRI)
    return f"""
    WITH pts AS (
      SELECT p_partkey AS pk,
             CAST((p_partkey % 360) - 180 + 0.5 AS DOUBLE) AS x,
             CAST(((p_partkey // 7) % 180) - 90 + 0.5 AS DOUBLE) AS y
      FROM part
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN x >= -30 AND x <= 10 AND y >= -20 AND y <= 25
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bbox,
           CAST(sum(CASE WHEN x * x + y * y <= 225.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_radius,
           CAST(sum(CASE WHEN {poly} THEN 1 ELSE 0 END) AS BIGINT) AS n_poly,
           CAST(sum(CASE WHEN {poly} THEN pk ELSE 0 END) AS BIGINT)
             AS sum_pk_poly
    FROM pts
    """


@q(
    "geo_point_filters",
    _geo_oracle(),
    "geo",
    "geometry",
    "filter",
)
def geo_point_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bbox / radius / polygon containment counts over derived POINT
    entities, through a WKT render+parse roundtrip (functions/geo)."""
    from milvus_cdc_spark.functions import geo

    p = _t(spark, sf_dir, "part")
    raw = p.select(
        F.col("p_partkey").alias("pk"),
        ((F.col("p_partkey") % 360) - 180 + 0.5).cast("double").alias("_x"),
        (
            (F.expr("p_partkey DIV 7") % 180) - 90 + 0.5
        ).cast("double").alias("_y"),
    )
    # WKT roundtrip: render the Milvus insert format, parse it back
    pts = raw.select(
        "pk", geo.wkt_point(F.col("_x"), F.col("_y")).alias("wkt")
    ).select(
        "pk",
        geo.parse_wkt_point_x(F.col("wkt")).alias("x"),
        geo.parse_wkt_point_y(F.col("wkt")).alias("y"),
    )
    in_box = geo.st_within_bbox(F.col("x"), F.col("y"), -30, -20, 10, 25)
    near = geo.st_dwithin(F.col("x"), F.col("y"), 0.0, 0.0, 15.0)
    in_poly = geo.st_contains_polygon(F.col("x"), F.col("y"), _GEO_TRI)
    return pts.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum(in_box.cast("int")).cast("bigint").alias("n_bbox"),
        F.sum(near.cast("int")).cast("bigint").alias("n_radius"),
        F.sum(in_poly.cast("int")).cast("bigint").alias("n_poly"),
        F.sum(F.when(in_poly, F.col("pk")).otherwise(0))
        .cast("bigint")
        .alias("sum_pk_poly"),
    )


# ---------------------------------------------------------------------------
# GEOMETRY predicates through the expr COMPILER: the Milvus filter
# string `st_within(loc, 'POLYGON (...)') and pk % 2 == 0` compiles to
# the same unrolled ray cast as the direct-function query — proving the
# string surface and the function surface agree.
# ---------------------------------------------------------------------------


def _geo_expr_oracle() -> str:
    from milvus_cdc_spark.functions.geo import sql_contains_polygon

    poly = sql_contains_polygon("x", "y", _GEO_TRI)
    return f"""
    WITH pts AS (
      SELECT p_partkey AS pk,
             CAST((p_partkey % 360) - 180 + 0.5 AS DOUBLE) AS x,
             CAST(((p_partkey // 7) % 180) - 90 + 0.5 AS DOUBLE) AS y
      FROM part
    )
    SELECT CAST(count(*) AS BIGINT) AS n_match,
           CAST(coalesce(sum(pk), 0) AS BIGINT) AS sum_pk
    FROM pts WHERE ({poly}) AND pk % 2 = 0
    """


@q(
    "expr_geo_filter",
    _geo_expr_oracle(),
    "geo",
    "expr",
    "compiler",
)
def expr_geo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_within inside a compiled Milvus filter expression."""
    from milvus_cdc_spark.functions import geo
    from milvus_cdc_spark.functions.expr import compile_expr

    p = _t(spark, sf_dir, "part")
    ent = p.select(
        F.col("p_partkey").alias("pk"),
        geo.wkt_point(
            ((F.col("p_partkey") % 360) - 180 + 0.5).cast("double"),
            ((F.expr("p_partkey DIV 7") % 180) - 90 + 0.5).cast("double"),
        ).alias("loc"),
    )
    wkt = "POLYGON ((-40 -40, 40 -40, 0 40, -40 -40))"
    pred = compile_expr(
        f"st_within(loc, '{wkt}') and pk % 2 == 0", ent
    )
    return ent.filter(pred).agg(
        F.count("*").cast("bigint").alias("n_match"),
        F.coalesce(F.sum("pk"), F.lit(0)).cast("bigint").alias("sum_pk"),
    )


# ---------------------------------------------------------------------------
# Geo-fenced ANN: spatial predicate FIRST (st_dwithin against each
# query's own location), cosine ranking only over the fenced candidates
# — the "restaurants near me, ranked by embedding" composition Milvus
# 2.6 geo + vector search serves. Filter-before-distance contract.
# ---------------------------------------------------------------------------


@q(
    "geo_fenced_ann",
    f"""
    WITH pts AS (
      SELECT vec_id, embedding,
             CAST((vec_id % 100) + 0.5 AS DOUBLE) AS x,
             CAST(((vec_id // 100) % 100) + 0.5 AS DOUBLE) AS y
      FROM embeddings
    ),
    q AS (SELECT * FROM pts WHERE vec_id < 5),
    fenced AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE} AS sim
      FROM pts c, q
      WHERE c.vec_id != q.vec_id
        AND (c.x - q.x) * (c.x - q.x) + (c.y - q.y) * (c.y - q.y)
              <= 900.0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM fenced
    )
    SELECT query_id, CAST(rn AS INT) AS rank, neighbor_id, sim
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rank
    """,
    "geo",
    "vector",
    "search",
    "llm",
)
def geo_fenced_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-3 within a 30-unit geo fence of each query point."""
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") % 100) + 0.5).cast("double").alias("x"),
        ((F.expr("vec_id DIV 100") % 100) + 0.5).cast("double").alias("y"),
    )
    q_side = pts.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    scored = similarity.search_pairs(
        pts,
        q_side,
        F.round(vecf.cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
            "sim"
        ),
        where=(dx * dx + dy * dy) <= 900.0,
    )
    order = [F.col("sim").desc(), F.col("neighbor_id")]
    return (
        windows.top_k(scored, "query_id", order, 3)
        .select("query_id", "rank", "neighbor_id", "sim")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Embedding covariance block (PCA/whitening prep): exact two-pass
# covariance of the first 8 dimensions in integer micro-units —
# per-row quantization (floor(x*1e6+0.5)) then exact integer sums, so
# both engines agree bit-for-bit regardless of float summation order.
# One map-side-combined aggregate per pass; the 8x8 block is 36 rows.
# ---------------------------------------------------------------------------

_COV_D = 8


def _cov_oracle() -> str:
    q_cols = ", ".join(
        f"CAST(floor(embedding[{k + 1}] * 1e6 + 0.5) AS BIGINT) AS v{k}"
        for k in range(_COV_D)
    )
    mean_cols = ", ".join(
        f"sum(v{k}) // count(*) AS m{k}" for k in range(_COV_D)
    )
    pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]
    sums = ", ".join(
        f"sum((v{i} - m{i}) * (v{j} - m{j})) AS s{i}_{j}" for i, j in pairs
    )
    rows = ", ".join(f"({i}, {j}, s{i}_{j})" for i, j in pairs)
    return f"""
    WITH q AS (SELECT {q_cols} FROM embeddings),
    m AS (SELECT {mean_cols} FROM q),
    s AS (SELECT {sums} FROM q CROSS JOIN m)
    SELECT CAST(t.i AS INT) AS i, CAST(t.j AS INT) AS j,
           CAST(t.cov_sum AS BIGINT) AS cov_sum
    FROM s, (VALUES {rows}) AS t(i, j, cov_sum)
    ORDER BY i, j
    """


@q(
    "embedding_covariance_block",
    _cov_oracle(),
    "vector",
    "pca",
    "covariance",
    "llm",
)
def embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer two-pass covariance sums of embedding dims 0-7."""
    emb = _t(spark, sf_dir, "embeddings")
    q_df = emb.select(
        *[
            F.floor(F.element_at("embedding", k + 1) * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias(f"v{k}")
            for k in range(_COV_D)
        ]
    )
    means = q_df.agg(
        *[
            F.expr(f"sum(v{k}) DIV count(*)").alias(f"m{k}")
            for k in range(_COV_D)
        ]
    )
    pairs = [(i, j) for i in range(_COV_D) for j in range(i, _COV_D)]
    centered = q_df.crossJoin(F.broadcast(means))
    sums = centered.agg(
        *[
            F.sum((F.col(f"v{i}") - F.col(f"m{i}")) * (F.col(f"v{j}") - F.col(f"m{j}")))
            .cast("bigint")
            .alias(f"s{i}_{j}")
            for i, j in pairs
        ]
    )
    stack_args = ", ".join(f"{i}, {j}, s{i}_{j}" for i, j in pairs)
    return sums.select(
        F.expr(
            f"stack({len(pairs)}, {stack_args}) AS (i, j, cov_sum)"
        )
    ).select(
        F.col("i").cast("int"),
        F.col("j").cast("int"),
        F.col("cov_sum").cast("bigint"),
    ).orderBy("i", "j")
