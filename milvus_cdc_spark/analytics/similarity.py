"""Similarity search over embedding columns (array<float>).

Two strategies:

- **brute_force_topk** — exact: broadcast the (small) query set against the
  corpus, compute cosine per pair with JVM-side higher-order functions, and
  take per-query top-k with a window. At 100 TB the corpus side stays
  partitioned; the only shuffle is the final per-query top-k (tiny:
  k rows per partition per query after the rank filter — Spark's
  TakeOrderedAndProject shape).
- **bucketed_topk** — the scale path (IVF/LSH-flavored): a deterministic
  coarse quantizer (sign pattern of leading dimensions) buckets both corpus
  and queries; search only same-bucket vectors. Sub-linear work per query;
  recall < 1 by design. The quantizer is portable SQL, so the result is
  still exactly oracle-checkable (the oracle applies the same bucketing).

Two kernels every search in the engine shares:

- **search_pairs** — the one query x corpus pairing: broadcast the query
  set, cross it with the corpus (or join it on a bucket, list, dim or
  code key), drop the query's own row and name the pair
  ``(query_id, neighbor_id, ...)``. Exact, bucketed, IVF, sparse, ADC,
  MaxSim and binary-metric scorers all start from it; only
  ``superstructure_search`` pairs by hand, because each of its queries
  must match its own row.
- **recall_at_k** — the one recall rule: the exact top-k left-joined
  with the approximate one on ``(query_id, neighbor_id)``, per query
  ``n_hits`` and ``recall = n_hits / |exact|``.

Milvus parity note: the reference replicates vector data but delegates ANN
to Milvus itself (no ANN code in milvus-cdc); these operators are the
north-star additions (BASELINE.json) that make the Spark rebuild a usable
analytics engine for the same data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from milvus_cdc_spark import partitioning
from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.functions import vector as vecf
from milvus_cdc_spark.operators import windows


def search_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    *cols,
    on=None,
    id_col: str = "vec_id",
    where: Column | None = None,
) -> DataFrame:
    """Every candidate (query, corpus row) pair of a search, as
    ``(query_id, neighbor_id, *cols)``.

    ``queries`` carries ``query_id`` and is broadcast. Without ``on`` it
    is crossed with the corpus; ``on`` (a column name or list, as for
    ``DataFrame.join``: a bucket, a centroid list, a sparse dim, a
    ``[sub_id, code]`` key) limits each query's candidates to the corpus
    rows that share it. A query never pairs with its own row
    (``id_col != query_id``), and ``where`` adds a pair predicate over
    both sides' columns (a label or a geo fence). ``cols`` are evaluated
    on the joined row, so they may read either side.
    """
    q = F.broadcast(queries)
    pairs = corpus.crossJoin(q) if on is None else corpus.join(q, on)
    keep = F.col(id_col) != F.col("query_id")
    if where is not None:
        keep = keep & where
    nid = F.col(id_col)
    if id_col != "neighbor_id":
        nid = nid.alias("neighbor_id")
    return pairs.filter(keep).select("query_id", nid, *cols)


def _cosine_sim() -> Column:
    """The pair cosine over precomputed norms, rounded to 6dp: the same
    expression tree as ``vecf.cosine`` over (cvec, qvec), one dot pass
    per pair."""
    return F.round(
        vecf.dot(F.col("cvec"), F.col("qvec")) / (F.col("cnorm") * F.col("qnorm")),
        6,
    ).alias("sim")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. ``queries`` must be small (it is broadcast).

    sim is rounded to 6 decimals *before* ranking so ordering is stable
    across engines. The corpus goes through the unkeyed
    ``partitioning.widen_small_scan`` first: the |queries|-way cross
    expansion is the operator that guard's boundary note names.
    """
    scored = brute_force_scored(
        partitioning.widen_small_scan(corpus), queries, id_col=id_col,
        vec_col=vec_col,
    )
    return windows.top_k(
        scored, "query_id", [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "sim")


def sign_bucket(vec_col, n_bits: int = 4):
    """Deterministic coarse quantizer: concatenated sign bits of the first
    n_bits dimensions → up to 2^n_bits buckets."""
    bits = [
        F.when(F.element_at(vec_col, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k:
    ``(query_id, n_hits, recall)`` with ``recall = round(n_hits /
    |exact|, 6)``. Both inputs carry (query_id, neighbor_id) as the
    *_topk operators produce them.

    The exact side LEFT JOINs the approximate one on (query_id,
    neighbor_id) and one ``groupBy(query_id)`` counts both the matched
    rows and the exact ones, so a query with no hit reads ``n_hits`` 0
    and recall 0.0 — the form every recall oracle writes. No arrays are
    collected; the work scales with k x n_queries.
    """
    hits = exact.alias("e").join(
        approx.alias("a"),
        (F.col("e.query_id") == F.col("a.query_id"))
        & (F.col("e.neighbor_id") == F.col("a.neighbor_id")),
        "left",
    )
    n_hits = F.count(F.col("a.neighbor_id"))
    return hits.groupBy(F.col("e.query_id").alias("query_id")).agg(
        n_hits.alias("n_hits"),
        F.round(n_hits / F.count("*"), 6).alias("recall"),
    )


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: search only the query's sign-bucket.

    The bucket join replaces the cross join — at scale the corpus is
    hash-partitioned by bucket (one shuffle, reusable across query batches)
    and each query probes one partition's worth of vectors.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vecf.norm(F.col(vec_col)).alias("qnorm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vecf.norm(F.col(vec_col)).alias("cnorm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    scored = search_pairs(c, q, _cosine_sim(), on="bucket", id_col="neighbor_id")
    return windows.top_k(
        scored, "query_id", [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "sim")


def nearest(
    points: DataFrame,
    centroids: DataFrame,
    dist: Column,
    keys: list[str],
    cid: str = "centroid_id",
    by: list[str] | None = None,
) -> DataFrame:
    """Each point's nearest centroid: (*keys, cid, _dist), the lowest
    ``dist`` winning and ties going to the lower ``cid`` (the Milvus /
    serial-engine tie rule). ``centroids`` is broadcast; ``dist`` is
    evaluated on the joined (point, centroid) row. ``keys`` identify a
    point. ``by`` limits a point's candidates to the centroids that share
    those columns (PQ: one codebook per ``sub_id``), so ``keys`` then
    include them too.

    The argmin is a min-of-struct aggregate, not a row_number window:
    all candidates of a point sit in the same map task straight off the
    broadcast join, so the partial combine collapses points x centroids
    to points BEFORE the exchange, where the window shuffled and sorted
    the full candidate set. The struct is kept SKINNY (dist + id, no
    vector): min(struct) with an array field falls back to
    SortAggregate, and the pre-aggregation sort would move the
    candidate rows WITH their ~0.5 KB vector payloads; without the
    payload the same sort moves ~24-byte rows, and a caller that needs
    the vector joins it back once by ``keys`` (r9 A/B: ivf/semdedup
    family ~25% faster at sf0.1).

    NOTE (measured): an in-row argmin over a collect_list'd centroid
    array (transform + array_min, zero shuffle) REGRESSED 20-200% across
    this family — nested higher-order functions evaluate interpreted,
    losing to this codegen'd broadcast join + aggregate.
    """
    cands = F.broadcast(centroids)
    j = points.join(cands, by) if by else points.crossJoin(cands)
    return (
        j.withColumn("_dist", dist)
        .groupBy(*keys)
        .agg(F.min(F.struct("_dist", cid)).alias("_m"))
        .select(*keys, F.col(f"_m.{cid}").alias(cid), "_m._dist")
    )


def _centroid_means(assigned: DataFrame, dim: int) -> DataFrame:
    """``ivf_train``'s mean step over (centroid_id, _vvec) rows: per
    centroid, the per-dimension mean of the first ``dim`` components
    rounded to 6 decimals, plus ``n_members`` (assigned vectors).
    Returns (centroid_id, centroid array<double>, n_members).

    LONG form: posexplode each vector into (dimension, value) rows, one
    ``round(avg, 6)`` per (centroid, dimension), then regroup each
    centroid's means into an array ordered by dimension. That is one
    aggregate expression where the wide form had ``dim`` separate
    ``avg(element_at(...))`` ones for the driver to analyze, optimize
    and compile every iteration; the values, rounding included, are the
    same.
    """
    per_dim = (
        assigned.select(
            "centroid_id",
            F.posexplode(F.slice(F.col("_vvec"), 1, dim)).alias("_d", "_x"),
        )
        .groupBy("centroid_id", "_d")
        .agg(F.round(F.avg("_x"), 6).alias("_m"), F.count("*").alias("_n"))
    )
    return per_dim.groupBy("centroid_id").agg(
        F.sort_array(F.collect_list(F.struct("_d", "_m")))
        .getField("_m")
        .alias("centroid"),
        F.max("_n").alias("n_members"),
    )


def ivf_train(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse-quantizer TRAINING: deterministic Lloyd k-means in pure
    DataFrame ops — the step ``ivf_topk`` takes as an input ("kMeans-
    trained offline"). Milvus trains IVF centroids with k-means at index
    build (knowhere IVF family); the coarse quantizer only needs a
    reasonable partition of the space, so deterministic seeding (the k
    lowest-id vectors) replaces random init — reproducible across
    engines and runs.

    Each iteration: broadcast the k centroids, assign every vector to
    its nearest by squared L2 (``nearest``), recompute each
    centroid as the per-dimension mean (``_centroid_means``). Plan
    shape: one broadcast join + one (k x dim)-row mean aggregation per
    iteration — the corpus shuffles ONCE per iteration into k x dim
    groups with map-side partial aggregation, a k x dim-row regroup
    follows, and the centroid set stays driver-sized. At 100 TB this is
    exactly distributed Lloyd; raise ``iters`` as needed (the coarse
    quantizer converges in a handful).

    Cross-engine exactness: per-dimension means are rounded to 6
    decimals BETWEEN iterations, quantizing away float-summation-order
    drift (Spark's partial/final aggregation order differs from a serial
    engine's; ~1e-13 absolute drift vs the 5e-7 rounding threshold), so
    the next iteration's assignment sees bit-identical centroids in any
    engine. Clusters that lose all members drop (consistent inner-join
    semantics everywhere).

    Returns (centroid_id, centroid array<double>, n_members) for the
    FINAL assignment.
    """
    cent = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(
            (
                F.row_number().over(Window.orderBy(id_col)) - 1
            ).alias("centroid_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "centroid"
            ),
        )
    )
    v = vectors.select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vvec"))
    for it in range(iters):
        assigned = nearest(
            v,
            cent.select("centroid_id", "centroid"),
            vecf.l2_squared(F.col("_vvec"), F.col("centroid")),
            ["_vid"],
        ).select("_vid", "centroid_id").join(v, "_vid")
        # Long-form mean step vs the former 64 per-dimension aggregates,
        # interleaved in-JVM A/B (scripts/ab_inproc.py swap, 6 pairs,
        # sf0.01, local[4] on a 4-core host), long/wide medians:
        # kmeans_silhouette CPU 0.70 (4.07 vs 5.85 s), wall 0.64 (1.71
        # vs 2.68 s); ivf_kmeans_build CPU 0.66, wall 0.62;
        # semdedup_prune CPU 0.75, wall 0.72. Identical output each call.
        cent = _centroid_means(assigned, dim)
        # k rows; the eager checkpoint truncates the per-iteration
        # lineage doubling (consumers otherwise re-run EVERY iteration's
        # corpus pass — measured ~25% on kmeans_silhouette at sf0.1).
        # The FINAL iteration stays lazy so callers see the real
        # broadcast-join + aggregate plan (and its plan tests hold).
        # SIDE EFFECT (ADVICE r7): construction runs a Spark job per
        # iteration, and localCheckpoint blocks are non-reliable —
        # executor loss loses them (re-call to recompute); k-row frames,
        # deliberate trade. Use persist()+count() where recoverability
        # on long-running clusters matters.
        if it < iters - 1:
            cent = cent.localCheckpoint(eager=True)
    return cent.select("centroid_id", "centroid", "n_members")


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    with_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by cosine
    (ties → lower centroid id). The corpus uses n_probe=1 (the IVF list a
    vector lives in); queries probe several lists.

    ``with_rank=True`` keeps the probe position as a ``probe_rank``
    column (1 = nearest list; always 1 when ``n_probe=1``). Because the
    top-n lists are a PREFIX of the same (csim desc, centroid_id asc)
    ranking for every n, one max-setting assignment with ranks serves a
    whole n_probe sweep: filter ``probe_rank <= n`` reproduces the
    n-probe assignment exactly (the r15 single-pass rewrite of
    ivf_nprobe_recall_curve).

    Plan: broadcast the (tiny) centroid set, one pass over the corpus.
    The corpus path (``n_probe=1``) is the min-of-struct argmin of
    ``nearest`` over the skinny (-csim, cid) struct; the query path
    (``n_probe>1``) keeps the row_number window — top-N per key has no
    aggregate form, and the query side is small. An in-row variant
    (collect_list'd centroids + array_sort, zero shuffle) was measured
    ~20% SLOWER here — nested higher-order functions evaluate
    interpreted; see the ``nearest`` note.
    """
    cen = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
        vecf.norm(F.col(vec_col)).alias("cn"),
    )
    v = vectors.select(
        F.col(id_col).alias("_vid"),
        F.col(vec_col).alias("_vvec"),
        vecf.norm(F.col(vec_col)).alias("_vn"),
    )
    # Degenerate guard (round-9 ADVICE): a zero-norm vector or centroid
    # would throw DIVIDE_BY_ZERO under ANSI mode, and a NaN component
    # would rank FIRST in the window path (_csim.desc() sorts NaN
    # largest) but LAST in the aggregate path (min avoids NaN). Map both
    # cases to -2.0 — strictly below any real cosine — so the candidate
    # ranks last (ties -> lower centroid id) identically in both paths.
    _den = F.col("_vn") * F.col("cn")
    _raw = F.when(
        _den > 0,
        F.round(vecf.dot(F.col("_vvec"), F.col("cvec")) / _den, 6),
    )
    scored = v.join(F.broadcast(cen)).select(
        "_vid",
        "centroid_id",
        F.coalesce(F.nanvl(_raw, F.lit(-2.0)), F.lit(-2.0)).alias("_csim"),
    )
    if n_probe == 1:
        # argmax csim (ties -> lower centroid id) == min of (-csim, cid);
        # -x on a rounded double is exact, so ordering matches the window.
        # Not ``nearest(v, cen, -csim, ...)``: that evaluates the negation
        # in the join-side Project instead of in the aggregate's struct,
        # so the plan would change beyond labels; the window path shares
        # ``scored`` as it is.
        rank = [F.lit(1).alias("probe_rank")] if with_rank else []
        return (
            scored.groupBy("_vid")
            .agg(
                F.min(F.struct(-F.col("_csim"), F.col("centroid_id"))).alias(
                    "_m"
                )
            )
            .select(
                F.col("_vid").alias(id_col),
                F.col("_m.centroid_id").alias("centroid_id"),
                *rank,
            )
        )
    ranked = windows.top_k(
        scored, "_vid", [F.col("_csim").desc(), F.col("centroid_id")], n_probe,
        rank="_r",
    )
    if with_rank:
        return ranked.select(
            F.col("_vid").alias(id_col),
            "centroid_id",
            F.col("_r").alias("probe_rank"),
        )
    return ranked.select(F.col("_vid").alias(id_col), "centroid_id")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_lists: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    list; each query scans only its ``n_probe`` nearest lists.

    At 100 TB the corpus assignment is computed once and the corpus is
    hash-partitioned (or bucketed) by centroid_id — per-query work is
    the probed lists' sizes, and the centroid set stays broadcastable
    (kMeans-trained offline; here the centroid *selection* is an input so
    the whole operator stays deterministic and oracle-checkable).

    ``corpus_lists`` (the n_probe=1 corpus assignment) is recomputed
    when not supplied; callers sweeping n_probe over a fixed index
    should compute it once with ``ivf_assign`` and pass it persisted —
    it is identical across the sweep.
    """
    if corpus_lists is None:
        corpus_lists = ivf_assign(corpus, centroids, id_col, vec_col, n_probe=1)
    query_probes = ivf_assign(queries, centroids, id_col, vec_col, n_probe=n_probe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vecf.norm(F.col(vec_col)).alias("cnorm"),
    ).join(
        corpus_lists.select(
            F.col(id_col).alias("neighbor_id"), "centroid_id"
        ),
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vecf.norm(F.col(vec_col)).alias("qnorm"),
    ).join(
        query_probes.select(F.col(id_col).alias("query_id"), "centroid_id"),
        "query_id",
    )
    # a query probing n lists can see a neighbor at most once (corpus
    # vectors live in exactly one list) — no distinct needed
    scored = search_pairs(
        c, q, _cosine_sim(), on="centroid_id", id_col="neighbor_id"
    )
    return windows.top_k(
        scored, "query_id", [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "sim")


def sparse_rows(
    vectors: DataFrame,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dense → sparse: one (id, dim, val) row per above-threshold
    component (SparseFloatVector surrogate, SURVEY §1.3). This row form
    IS the inverted index: partitioned by dim, each dimension's posting
    list lives together."""
    return vectors.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
    ).filter(F.abs(F.col("val")) >= threshold)


def sparse_topk(
    corpus_rows: DataFrame,
    query_rows: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Sparse dot-product top-k over (id, dim, val) rows: join posting
    lists on dim, accumulate val products per (query, neighbor) pair.

    The classic inverted-index retrieval plan: work ∝ Σ posting-list
    sizes of the query's nonzero dims — independent of corpus
    dimensionality, shuffles keyed on dim then (query, neighbor)."""
    c = corpus_rows.select(
        F.col(corpus_rows.columns[0]).alias("neighbor_id"), "dim", F.col("val").alias("cval")
    )
    q = query_rows.select(
        F.col(query_rows.columns[0]).alias("query_id"), "dim", F.col("val").alias("qval")
    )
    scored = (
        search_pairs(c, q, "cval", "qval", on="dim", id_col="neighbor_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(F.col("cval") * F.col("qval")), 6).alias("sim"))
    )
    return windows.top_k(
        scored, "query_id", [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "sim")


def probe_buckets(vec_col, n_bits: int = 4):
    """Multi-probe LSH: the vector's own sign-bucket plus each
    single-bit-flip neighbor (n_bits+1 buckets). Probing adjacent buckets
    recovers near-neighbors that straddle a quantization boundary — the
    standard recall/cost dial for LSH without growing the index."""
    own = sign_bucket(vec_col, n_bits)
    probes = [own]
    for i in range(n_bits):
        flipped = F.when(F.element_at(vec_col, i + 1) >= 0, F.lit("0")).otherwise(
            F.lit("1")
        )
        parts = [
            flipped if j == i
            else F.when(F.element_at(vec_col, j + 1) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(n_bits)
        ]
        probes.append(F.concat(*parts))
    return F.array(*probes)


def multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH top-k with single-bit multi-probe: each query scans its
    own bucket plus the n_bits flip-neighbors. Candidate volume grows
    ~(n_bits+1)×; recall approaches brute force (see ann_recall vs
    ann_multiprobe queries)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vecf.norm(F.col(vec_col)).alias("qnorm"),
        F.explode(probe_buckets(F.col(vec_col), n_bits)).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vecf.norm(F.col(vec_col)).alias("cnorm"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    # a corpus vector lives in ONE bucket but a query probes several —
    # distinct buckets never repeat, so pairs are already unique
    scored = search_pairs(c, q, _cosine_sim(), on="bucket", id_col="neighbor_id")
    return windows.top_k(
        scored, "query_id", [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "sim")


# ---------------------------------------------------------------------------
# Search-surface parity: the request shapes a Milvus user runs against the
# replicated data (search with boolean filter expr, range search with
# radius, grouping search, offset pagination — milvus.io search API
# semantics). Each is the brute-force scored frame plus one declarative
# refinement, so Catalyst keeps pushdown/broadcast behavior; the ANN
# variants compose the same way on the bucketed scored frames.
# ---------------------------------------------------------------------------


def metric_topk(
    corpus: DataFrame,
    queries: DataFrame,
    metric: str = "cosine",
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Milvus ``metric_type`` parity: exact top-k under COSINE, IP, or L2.

    The reference replicates collections whose indexes carry a metric_type
    (index params flow through the DDL path, core/writer CreateIndex); a
    reader of the replica searches with that metric. Semantics follow the
    Milvus contract:

    - ``cosine``: similarity, higher is better (descending).
    - ``ip``: inner product, higher is better (descending).
    - ``l2``: SQUARED Euclidean distance (Milvus returns squared L2),
      lower is better (ascending).

    Output column is ``distance`` (the Milvus result field name) for
    ip/l2 and ``sim`` for cosine, which is ``brute_force_topk`` itself.
    Scores round to 6dp before ranking for cross-engine order stability;
    ties break on neighbor_id. Query side broadcasts; distance math is
    zip_with/aggregate JVM expressions — no shuffle beyond the ranking
    window, same plan shape at any corpus size.
    """
    if metric == "cosine":
        return brute_force_topk(corpus, queries, k, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    cvec, qvec = F.col("cvec"), F.col("qvec")
    if metric == "ip":
        score = F.round(vecf.dot(cvec, qvec), 6)
        order = [F.col("distance").desc(), F.col("neighbor_id").asc()]
    elif metric == "l2":
        score = F.round(vecf.l2_squared(cvec, qvec), 6)
        order = [F.col("distance").asc(), F.col("neighbor_id").asc()]
    else:
        raise ValueError(f"unknown metric_type: {metric}")
    scored = search_pairs(c, q, score.alias("distance"), id_col="neighbor_id")
    return windows.top_k(scored, "query_id", order, k).select(
        "query_id", "rank", "neighbor_id", "distance"
    )


def brute_force_scored(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine scores (query side broadcast) — the shared input of
    the search refinements below and of ``brute_force_topk``. sim rounded
    to 6dp for cross-engine ordering stability."""
    # norms precomputed per side (rows ∝ corpus + queries), so the
    # per-pair work is a single dot pass. sim = dot/(nc*nq) is the same
    # expression tree as cosine() — bit-identical result, 3× less work.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        vecf.norm(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        vecf.norm(F.col(vec_col)).alias("cnorm"),
    )
    return search_pairs(c, q, _cosine_sim(), id_col="neighbor_id")


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    predicate,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid attribute+vector search (Milvus ``search(filter=expr)``): the
    scalar predicate applies BEFORE the distance math, so at scale it
    pushes into the parquet scan and prunes the candidate set first.

    ``predicate`` is a Column or a Milvus filter-expression string — the
    string form is compiled against the corpus schema by
    ``functions/expr.compile_expr`` (what a client's ``filter=...`` arg
    actually carries)."""
    if isinstance(predicate, str):
        from milvus_cdc_spark.functions.expr import compile_expr

        predicate = compile_expr(predicate, corpus)
    return brute_force_topk(
        corpus.filter(predicate), queries, k=k, id_col=id_col, vec_col=vec_col
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    radius: float,
    range_filter: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Milvus range search: every neighbor with sim >= radius (and
    optionally < range_filter, the 'ring' form). Unbounded-k semantics —
    output scales with matches, not a fixed k."""
    scored = brute_force_scored(corpus, queries, id_col=id_col, vec_col=vec_col)
    pred = F.col("sim") >= radius
    if range_filter is not None:
        pred = pred & (F.col("sim") < range_filter)
    return scored.filter(pred)


def grouping_topk(
    corpus: DataFrame,
    queries: DataFrame,
    group_col: str,
    k_groups: int = 3,
    group_size: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Milvus grouping search (group_by_field + group_size): the top
    ``group_size`` hits per group, groups ranked per query by their BEST
    hit, top ``k_groups`` groups kept. Stacked window ranks — all
    partitioned by query (and group), so the shuffle is bounded by the
    scored frame, never collected.

    Milvus's ``strict_group_size`` knob is about how hard the ANN search
    tries to FILL group_size candidates; an exact engine always sees
    every member, so groups simply return min(group_size, |group|) rows
    — both strict settings coincide.

    The output schema is parameter-independent: ``rn`` (in-group rank) is
    always present — constant 1 when ``group_size == 1`` — so callers can
    rely on one shape across parameter values.
    """
    g = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(group_col).alias("grp"))
    scored = brute_force_scored(corpus, queries, id_col=id_col, vec_col=vec_col).join(
        g, "neighbor_id"
    )
    # best_sim over the kept rows: the rank-1 row always survives the cut
    best = windows.top_k(
        scored, ["query_id", "grp"],
        [F.col("sim").desc(), F.col("neighbor_id").asc()], group_size, rank="rn",
    ).withColumn("best_sim", F.max("sim").over(Window.partitionBy("query_id", "grp")))
    w_g = Window.partitionBy("query_id").orderBy(
        F.col("best_sim").desc(), F.col("grp").asc()
    )
    return (
        best.withColumn("grp_rank", F.dense_rank().over(w_g))
        .filter(F.col("grp_rank") <= k_groups)
        .select("query_id", "grp_rank", "grp", "rn", "neighbor_id", "sim")
    )


def paged_topk(
    corpus: DataFrame,
    queries: DataFrame,
    offset: int,
    limit: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Milvus search pagination (offset + limit): ranks (offset, offset+limit]
    of the exact ordering — the iterator/page-2 shape."""
    scored = brute_force_scored(corpus, queries, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    # the two-sided range stays hand-written: through ``windows.top_k``
    # the ``rank > offset`` filter would merge after the kernel's cut and
    # reorder the plan's Filter conjuncts
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") > offset) & (F.col("rank") <= offset + limit))
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, k: int = 60, topk: int = 3) -> DataFrame:
    """Reciprocal-rank fusion of two ranked result sets (Milvus
    hybrid_search RRFRanker): score = Σ branches 1/(k + rank); missing in a
    branch contributes nothing. Union + one grouped sum + one rank window —
    no collected lists, scales with Σ|branch results|.
    """
    u = ranked_a.select("query_id", "neighbor_id", "rank").unionByName(
        ranked_b.select("query_id", "neighbor_id", "rank")
    )
    fused = u.groupBy("query_id", "neighbor_id").agg(
        F.round(F.sum(1.0 / (F.lit(k) + F.col("rank"))), 6).alias("rrf_score")
    )
    order = [F.col("rrf_score").desc(), F.col("neighbor_id").asc()]
    return windows.top_k(fused, "query_id", order, topk, rank="fused_rank").select(
        "query_id", "fused_rank", "neighbor_id", "rrf_score"
    )


def weighted_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    w_a: int,
    w_b: int,
    topk: int = 3,
) -> DataFrame:
    """Weighted-score fusion (Milvus WeightedRanker): w_a·sim_a + w_b·sim_b
    over the union of branch results, absent branch scores contributing 0.

    Weights are INTEGERS and branch sims (6-dp values) are converted to
    exact integer micro-units first — ``floor(sim*1e6+0.5)`` — so the fused
    score is pure integer arithmetic: cross-engine deterministic, no float
    rounding boundary (w_a=7, w_b=3 ≡ 0.7/0.3 up to scale, and ranking is
    scale-invariant)."""
    micros = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    a = ranked_a.select(
        "query_id", "neighbor_id", micros(F.col("sim")).alias("sim_a")
    )
    b = ranked_b.select(
        "query_id", "neighbor_id", micros(F.col("sim")).alias("sim_b")
    )
    joined = a.join(b, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        (
            F.lit(w_a) * F.coalesce("sim_a", F.lit(0))
            + F.lit(w_b) * F.coalesce("sim_b", F.lit(0))
        ).alias("weighted_score"),
    )
    order = [F.col("weighted_score").desc(), F.col("neighbor_id").asc()]
    return windows.top_k(joined, "query_id", order, topk, rank="fused_rank").select(
        "query_id", "fused_rank", "neighbor_id", "weighted_score"
    )


# ---------------------------------------------------------------------------
# Product quantization (Milvus IVF_PQ / PQ index family; Jégou, Douze &
# Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
# The reference replicates collections whose indexes carry
# index_type=IVF_PQ (index params flow through the DDL path, core/writer
# CreateIndex, server/.../create_index parity tests); PQ is the codec that
# makes billion-vector corpora fit in memory: split each D-dim vector
# into M subvectors, k-means each subspace to K codewords, store M small
# codes per vector (D*4 bytes -> M bytes), and answer queries with
# asymmetric distance computation (ADC) against a per-query lookup table.
# ---------------------------------------------------------------------------


def _pq_subvectors(
    vectors: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub_id, sv) — each vector split into ``m`` contiguous
    subvectors of dim/m dims. posexplode keeps this a narrow projection
    of the scan (rows x m skinny rows, no shuffle)."""
    d_sub = dim // m
    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    slices = F.array(*[F.slice(dv, s * d_sub + 1, d_sub) for s in range(m)])
    return vectors.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(slices).alias("sub_id", "sv"),
    )


def _pq_assign(subv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest codeword per (vector, subspace): ``nearest`` over the
    broadcast M*K codebook rows, candidates limited to the vector's own
    subspace. Returns (_vid, sub_id, centroid_id, _dist)."""
    return nearest(
        subv,
        codebooks.select("sub_id", "centroid_id", "centroid"),
        vecf.l2_squared(F.col("sv"), F.col("centroid")),
        ["_vid", "sub_id"],
        by=["sub_id"],
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codebook TRAINING: deterministic Lloyd k-means in every
    subspace simultaneously — the ``sub_id`` column keys the subspace,
    so all M trainings share one broadcast join + one (m*k)-group
    aggregation per iteration instead of M sequential jobs.

    Determinism mirrors ``ivf_train``: seeds are the subvectors of the
    ``k`` lowest-id vectors (centroid_id = rank of seed id within the
    subspace), assignment ties break toward the lower centroid_id, and
    per-dimension means round to 6 decimals between iterations so a
    serial engine (the DuckDB oracle) reproduces the codebooks
    bit-for-bit.

    At 100 TB: the corpus-sized frames only ever carry (id, sub_id,
    16-dim subvector) rows; each iteration is one map-side-combined
    shuffle into m*k groups; the codebook stays driver-sized (m*k rows).

    Returns (sub_id, centroid_id, centroid array<double>, n_members).
    """
    d_sub = dim // m
    subv = _pq_subvectors(vectors, m, dim, id_col, vec_col)
    seeds = vectors.orderBy(id_col).limit(k).select(F.col(id_col).alias("_vid"))
    cent = (
        subv.join(F.broadcast(seeds), "_vid")
        .withColumn(
            "centroid_id",
            F.row_number().over(Window.partitionBy("sub_id").orderBy("_vid")) - 1,
        )
        .select("sub_id", "centroid_id", F.col("sv").alias("centroid"))
    )
    # NOTE (measured): two ivf_train levers do not carry over here.
    # - An eager mid-iteration localCheckpoint of the m*k-row codebook
    #   REGRESSED ivf_pq_recall 1.57x (interleaved A/B at sf0.1, 4
    #   pairs, 4.01 -> 6.30 s): the eager job runs the iteration-0
    #   corpus pass as a separate action, losing the scan/exchange
    #   sharing of the one-action composite.
    # - ivf_train's long-form mean step (_centroid_means: posexplode,
    #   one avg per (centroid, dimension), regroup) lost on
    #   ivf_pq_recall: long/wide CPU 1.09 (4.87 vs 4.48 s) and 1.05
    #   (4.03 vs 3.86 s), wall 1.03 and 1.08 (interleaved in-JVM A/B,
    #   sf0.01, 6 then 10 pairs). pq_codebooks CPU 0.92 and 0.84, wall
    #   0.89 and 1.00. A 16-dim subvector has only 16 aggregates to
    #   save, and the regroup adds an exchange per iteration.
    for _ in range(iters):
        assigned = _pq_assign(subv, cent).join(subv, ["_vid", "sub_id"])
        cent = assigned.groupBy("sub_id", "centroid_id").agg(
            F.array(
                *[
                    F.round(F.avg(F.element_at(F.col("sv"), i + 1)), 6)
                    for i in range(d_sub)
                ]
            ).alias("centroid"),
            F.count("*").alias("n_members"),
        )
    return cent.select("sub_id", "centroid_id", "centroid", "n_members")


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as M one-byte codes: (id, sub_id, code) with
    code = nearest codeword in that subspace. This narrow frame IS the
    PQ index — 32x smaller than the float32 corpus at m=4/dim=64 — and
    the only corpus-sized input ``pq_adc_topk`` reads."""
    subv = _pq_subvectors(vectors, m, dim, id_col, vec_col)
    return _pq_assign(subv, codebooks).select(
        F.col("_vid").alias(id_col),
        "sub_id",
        F.col("centroid_id").alias("code"),
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes.

    Per query: distances from each query SUBVECTOR to every codeword
    form a lookup table of m*k rows (queries x m x k total — catalog-
    sized, broadcast). The approximate distance of a document is the sum
    of its M table entries, so the scan side touches only the byte
    codes, never the float corpus: codes ⋈ broadcast(LUT) then one
    map-side-combined sum keyed (query, doc). Rounded to 6dp before
    ranking; ascending distance, ties on neighbor_id — the Milvus L2
    result contract.
    """
    qsub = _pq_subvectors(queries, m, dim, id_col, vec_col).select(
        F.col("_vid").alias("query_id"), "sub_id", F.col("sv").alias("qv")
    )
    d = vecf.l2_squared(F.col("qv"), F.col("centroid"))
    lut = (
        qsub.join(
            codebooks.select("sub_id", F.col("centroid_id").alias("code"), "centroid"),
            "sub_id",
        )
        .select("query_id", "sub_id", "code", d.alias("d"))
    )
    scored = (
        search_pairs(codes, lut, "d", on=["sub_id", "code"], id_col=id_col)
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    order = [F.col("adist").asc(), F.col("neighbor_id").asc()]
    return windows.top_k(scored, "query_id", order, k).select(
        "query_id", "rank", "neighbor_id", "adist"
    )


# ---------------------------------------------------------------------------
# Composite IVF_PQ (the Milvus IVF_PQ index type, knowhere IVF-PQ /
# Jégou et al. TPAMI 2011 §IV): coarse k-means lists + product
# quantization of the RESIDUAL (vector minus its coarse centroid);
# queries probe n_probe lists and rank candidates by ADC over the byte
# codes. The coarse step prunes the candidate set (only probed lists are
# touched), the PQ step shrinks what's stored 32x — together the config
# that makes billion-vector search fit one machine's memory, and on
# Spark the config where query cost is proportional to probed-list size,
# never corpus size.
# ---------------------------------------------------------------------------


def ivf_pq_build(
    vectors: DataFrame,
    k_coarse: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    k_pq: int = 16,
    pq_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train the full IVF_PQ index: coarse Lloyd k-means, residual
    computation, per-subspace PQ codebooks on the residuals, byte codes.

    Returns (coarse, assigned, codebooks, codes):
    coarse (centroid_id, centroid, n_members); assigned (id, coarse_id);
    codebooks (sub_id, centroid_id, centroid, n_members); codes
    (id, sub_id, code). All deterministic (lowest-id seeding, 6-decimal
    mean rounding) — a serial engine reproduces every table exactly.

    All four outputs are PERSISTED (``cache_registry.cache``): the
    query path consumes each at least once and recall-style evaluations
    consume them repeatedly; without the persist every consumer re-runs
    the full training lineage. At 100 TB these are the index tables a
    real build WRITES (codes are corpus x m bytes, the rest
    catalog-sized) — caching here is the local stand-in for that
    materialization.

    Persist, not an eager localCheckpoint of the four outputs: measured
    (r11, SCALE.md §5r, balanced B A A B B A A B B A protocol at sf0.1)
    at 3.8 s vs 7.7 s median — checkpointed leaves surface as stats-less
    LogicalRDDs, so Catalyst loses size estimates and exchange reuse
    across the probe/recall joins, which costs roughly 2x what lineage
    re-planning saves.
    """
    # NOTE (measured r15, do not re-try): eagerly localCheckpoint-ing
    # ONLY the catalog-sized outputs (coarse, codebooks) — the surgical
    # variant of the r11-rejected all-four checkpoint, with explicit
    # broadcast hints at every consumer so no join could degrade — was
    # A/B'd and REGRESSED ivf_pq_recall 1.67x (3.96 -> 6.60 s median,
    # 4 interleaved pairs at sf0.1). Same failure mode as the pq_train
    # mid-iteration checkpoint (see its note): the construction-time
    # eager jobs serialize the training chain into separate actions and
    # forfeit the one-action composite's scan/exchange/cache sharing,
    # costing ~2.5 s against the ~1 s of saved Catalyst re-planning.
    coarse = cache(ivf_train(
        vectors, k=k_coarse, iters=coarse_iters, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ))
    vv = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_vv"),
    )
    cc = coarse.select(
        F.col("centroid_id").alias("coarse_id"), F.col("centroid").alias("_cc")
    )
    assigned = cache(
        nearest(
            vv, cc, vecf.l2_squared(F.col("_vv"), F.col("_cc")), [id_col],
            cid="coarse_id",
        ).select(id_col, "coarse_id")
    )
    resid = (
        vv.join(assigned, id_col)
        .join(F.broadcast(cc), "coarse_id")
        .select(
            F.col(id_col),
            F.zip_with(F.col("_vv"), F.col("_cc"), lambda a, b: a - b).alias(
                vec_col
            ),
        )
    )
    # NOTE (measured r15): persisting resid (it is referenced ~5x across
    # pq_train's iterations and pq_encode) was a wash — interleaved A/B
    # 1.02 at sf0.1; behind the persisted `assigned` its recompute is one
    # cheap join and Catalyst already reuses the exchange.
    codebooks = cache(pq_train(
        resid, m=m, k=k_pq, iters=pq_iters, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ))
    codes = cache(pq_encode(
        resid, codebooks, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    ))
    return coarse, assigned, codebooks, codes


def ivf_pq_adc_topk(
    queries: DataFrame,
    coarse: DataFrame,
    assigned: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF_PQ query path: probe the ``n_probe`` nearest coarse lists,
    rank list members by ADC over residual codes.

    The per-query lookup table has n_probe x m x k_pq rows (residual of
    the query against each probed centroid, per subspace, per codeword)
    — catalog-sized, broadcast onto the codes. A document joins at most
    one LUT row per (sub, query): it lives in exactly one coarse list,
    and only if that list is probed — candidate cost is probed-list
    size, never corpus size. One map-side-combined sum keyed
    (query, doc), rounded to 6dp, ascending with neighbor_id ties —
    the Milvus L2 contract.
    """
    d_sub = dim // m
    cen = coarse.select(
        F.col("centroid_id").alias("coarse_id"), F.col("centroid").alias("_cc")
    )
    qj = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_qv"),
    ).crossJoin(F.broadcast(cen))
    qdist = vecf.l2_squared(F.col("_qv"), F.col("_cc"))
    probes = windows.top_k(
        qj.withColumn("_qdist", qdist),
        "query_id",
        [F.col("_qdist").asc(), F.col("coarse_id").asc()],
        n_probe,
        rank="_r",
    )
    qres = F.zip_with(F.col("_qv"), F.col("_cc"), lambda a, b: a - b)
    slices = F.array(*[F.slice(qres, s * d_sub + 1, d_sub) for s in range(m)])
    lut_base = probes.select(
        "query_id", "coarse_id", F.posexplode(slices).alias("sub_id", "qv")
    )
    d = vecf.l2_squared(F.col("qv"), F.col("centroid"))
    # explicit broadcast: codebooks is m*k_pq rows; the hint pins the
    # strategy independent of how the caller pinned the frame (a
    # stats-less leaf would otherwise be free to degrade to sort-merge)
    lut = lut_base.join(
        F.broadcast(
            codebooks.select(
                "sub_id", F.col("centroid_id").alias("code"), "centroid"
            )
        ),
        "sub_id",
    ).select("query_id", "coarse_id", "sub_id", "code", d.alias("d"))
    cc = codes.join(assigned, id_col)
    scored = (
        search_pairs(
            cc, lut, "d", on=["coarse_id", "sub_id", "code"], id_col=id_col
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d"), 6).alias("adist"))
    )
    order = [F.col("adist").asc(), F.col("neighbor_id").asc()]
    return windows.top_k(scored, "query_id", order, k).select(
        "query_id", "rank", "neighbor_id", "adist"
    )


def decay_rerank(
    ranked: DataFrame,
    field: str,
    function: str = "gauss",
    origin: float = 0.0,
    scale: float = 1.0,
    offset: float = 0.0,
    decay: float = 0.5,
    score_col: str = "sim",
) -> DataFrame:
    """Milvus 2.6 decay ranker (milvus.io Decay Ranker: gauss / exp /
    linear): multiply each candidate's similarity by a decay of its
    distance from ``origin`` on a numeric ``field`` — freshness-aware
    ranking without re-indexing. Elasticsearch-compatible forms:

    - gauss:  exp(-max(0, |x-origin| - offset)^2 / (2 sigma^2)),
      sigma^2 = -scale^2 / (2 ln(decay))
    - exp:    exp(ln(decay)/scale * max(0, |x-origin| - offset))
    - linear: max(0, (s - max(0, |x-origin| - offset)) / s),
      s = scale / (1 - decay)

    At ``|x-origin| <= offset`` the multiplier is 1; at distance
    ``offset + scale`` it is exactly ``decay``. Pure column math on an
    already-ranked frame — rescore + re-sort only, candidate set
    unchanged. Returns the input columns plus ``decayed_score``
    (rounded to 6dp for cross-engine rank stability).
    """
    import math

    x = F.col(field).cast("double")
    dist = F.greatest(F.lit(0.0), F.abs(x - F.lit(float(origin))) - F.lit(float(offset)))
    if function == "gauss":
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        mult = F.exp(-(dist * dist) / F.lit(2.0 * sigma2))
    elif function == "exp":
        lam = math.log(decay) / scale
        mult = F.exp(F.lit(lam) * dist)
    elif function == "linear":
        s = scale / (1.0 - decay)
        mult = F.greatest(F.lit(0.0), (F.lit(s) - dist) / F.lit(s))
    else:
        raise ValueError(f"unknown decay function: {function}")
    return ranked.withColumn(
        "decayed_score", F.round(F.col(score_col) * mult, 6)
    )


def mmr_rerank(
    candidates: DataFrame,
    pairwise: DataFrame,
    k: int = 3,
    lam: float = 0.7,
    id_col: str = "neighbor_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified reranking of a small candidate pool: greedily pick
    argmax of ``lam·sim(q,d) − (1−lam)·max_{s∈S} sim(d,s)`` — relevance
    traded against redundancy with what's already selected.

    ``candidates`` is (id, sim) — a top-N pool (N ~ tens; MMR reranks a
    pool, never a corpus); ``pairwise`` is (a, b, psim) candidate-
    candidate similarities (N² rows — pool-sized). The greedy loop
    unrolls into the PLAN (k driver-side iterations, each a broadcast
    of the 1-row pick via TakeOrderedAndProject — no collects, no
    global sort); ties break on the id, and the empty-selection
    penalty is 0 so pick 1 is pure relevance.

    Returns (rank, id, mmr_score rounded 6).

    The pool inputs are PERSISTED (both are pool-sized, but their
    lineage — typically a corpus-wide top-k — is re-referenced by every
    unrolled rank), and each 1-row pick is localCheckpoint-ed: without
    the truncation rank r's plan embeds every earlier rank's whole
    plan, and the scan-node audit counted 50 parquet scans in one k=3
    MMR query. SIDE EFFECT (ADVICE r7): the eager checkpoints mean
    CONSTRUCTING the returned frame runs k Spark jobs, and the 1-row
    checkpoint blocks are non-reliable — executor loss makes them
    unrecoverable (re-call to recompute) rather than
    lineage-recomputable; deliberate for pool-sized reranks.
    """
    remaining = cache(candidates.select(
        F.col(id_col).alias("_id"), F.col(sim_col).alias("_sim")
    ))
    pw = cache(pairwise.select(
        F.col("a").alias("_pa"), F.col("b").alias("_pb"), F.col("psim").alias("_ps")
    ))
    picks: list[DataFrame] = []
    selected: DataFrame | None = None
    for rank in range(1, k + 1):
        if selected is None:
            mmr = remaining.withColumn(
                "_mmr", F.round(F.lit(lam) * F.col("_sim"), 6)
            )
        else:
            pen = (
                pw.join(
                    F.broadcast(selected.select(F.col("_id").alias("_pb"))),
                    "_pb",
                )
                .groupBy("_pa")
                .agg(F.max("_ps").alias("_pen"))
            )
            mmr = (
                remaining.join(pen, remaining["_id"] == pen["_pa"], "left")
                .withColumn(
                    "_mmr",
                    F.round(
                        F.lit(lam) * F.col("_sim")
                        - F.lit(1.0 - lam) * F.coalesce(F.col("_pen"), F.lit(0.0)),
                        6,
                    ),
                )
                .select("_id", "_sim", "_mmr")
            )
        pick = (
            mmr.orderBy(F.col("_mmr").desc(), F.col("_id").asc())
            .limit(1)
            .select("_id", F.lit(rank).alias("rank"), F.col("_mmr"))
            .localCheckpoint(eager=True)  # 1 row; truncates the unroll
        )
        picks.append(pick)
        sel_ids = pick.select("_id")
        selected = sel_ids if selected is None else selected.unionAll(sel_ids)
        remaining = remaining.join(F.broadcast(sel_ids), "_id", "left_anti")
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.select(
        "rank", F.col("_id").alias(id_col), F.col("_mmr").alias("mmr_score")
    )


def hashed_embedding(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic text embedding by the hashing trick (Weinberger et
    al., ICML 2009: Feature Hashing for Large Scale Multitask Learning):
    every token hashes to a dimension (md5 nibble pair mod dim) and to a
    sign (+-1 from another nibble); the document vector is the signed
    token-count histogram. The model-free analog of a server-side
    embedding function (Milvus 2.6 attaches text-embedding Functions to
    collections): it turns the engine's whole vector-search surface —
    cosine top-k, IVF, banding, SemDeDup — into a text pipeline with no
    external model, and its cosine is a known unbiased kernel estimate.

    Components are exact INTEGERS (signed counts), so dot products and
    squared norms are integer math — deterministic in any engine; the
    one float op is the final cosine division.

    Plan: one token explode, one (doc, dim)-keyed count aggregate,
    then ``dim`` conditional sums assemble the vector per doc (the
    SimHash codegen shape) — two corpus-keyed shuffles total, vector
    width fixed at any corpus size.

    Returns (id, vec array<bigint>).
    """
    from milvus_cdc_spark.functions import text as textf

    toks = docs.select(
        F.col(id_col),
        F.explode(textf.tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    # one md5 + one conv per token: the 3-nibble value splits into the
    # dimension (top two nibbles) and the sign (low nibble) with shifts,
    # instead of re-deriving the md5 per nibble
    h3 = F.conv(F.substring(F.md5(F.col("tok")), 1, 3), 16, 10).cast("bigint")
    hashed = toks.select(F.col(id_col), h3.alias("_h")).select(
        F.col(id_col),
        (F.shiftright(F.col("_h"), 4) % dim).alias("d"),
        F.when(F.col("_h") % 16 >= 8, F.lit(1)).otherwise(F.lit(-1)).alias("sign"),
    )
    sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("d") == i, F.col("sign")).otherwise(0))
            .cast("bigint")
            .alias(f"_v{i}")
            for i in range(dim)
        ]
    )
    return sums.select(
        F.col(id_col),
        F.array(*[F.col(f"_v{i}") for i in range(dim)]).alias("vec"),
    )


def silhouette_stats(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified silhouette (Rousseeuw 1987, the centroid-based variant
    sklearn documents as "silhouette via cluster centers"): per vector,
    a = L2 distance to its own (nearest) centroid, b = distance to the
    second-nearest, s = (b - a) / max(a, b) in [-~0, 1] — how cleanly
    the clustering separates. The per-CLUSTER average is the index
    build quality signal (low-silhouette clusters are merge/re-train
    candidates in IVF maintenance).

    s is floored to integer micro-units per row before the per-cluster
    average (sum DIV count) — both engines see identical doubles (the
    centroids are round(·, 6) by ivf_train's contract), so the stats
    are BIGINT-exact cross-engine.

    Plan: MAP-ONLY until the final k-group aggregate. The k-row centroid
    frame folds into ONE broadcast array row; every vector computes its
    k distances in-row (transform) and takes the two nearest with an
    in-row array_sort on (d, centroid_id) — the same (d asc, id asc)
    tie order the rank-window shape used, but with no corpus × k
    explosion, no per-vector window shuffle, and no own/second
    self-join (which recomputed the whole distance subtree per side).

    Returns (centroid_id, n_members, avg_sil_micro, min_sil_micro,
    max_sil_micro).
    """
    from milvus_cdc_spark.functions import vector as vecf

    cents = centroids.agg(
        F.collect_list(
            F.struct(F.col("centroid"), F.col("centroid_id"))
        ).alias("_cents")
    )
    ds = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.sqrt(vecf.l2_squared(F.col(vec_col), c["centroid"])).alias("d"),
            c["centroid_id"].alias("cid"),
        ),
    )
    two = F.slice(F.array_sort(ds), 1, 2)
    s = F.when(
        F.greatest(F.col("a"), F.col("b")) == 0.0, F.lit(0.0)
    ).otherwise(
        (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    )
    scored = (
        vectors.crossJoin(F.broadcast(cents))
        .select(two.alias("_t2"))
        .filter(F.size("_t2") >= 2)
        .select(
            F.col("_t2")[0]["cid"].alias("centroid_id"),
            F.col("_t2")[0]["d"].alias("a"),
            F.col("_t2")[1]["d"].alias("b"),
        )
        .select(
            "centroid_id",
            F.floor(s * 1e6 + F.lit(0.5)).cast("bigint").alias("s_micro"),
        )
    )
    return (
        scored.groupBy("centroid_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.expr("sum(s_micro) DIV count(*)").cast("bigint").alias(
                "avg_sil_micro"
            ),
            F.min("s_micro").alias("min_sil_micro"),
            F.max("s_micro").alias("max_sil_micro"),
        )
    )
