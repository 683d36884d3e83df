"""Deduplication operators for document corpora.

The scale path for a 100 TB corpus:

- **exact**: fingerprint (md5 of normalized text) → hash groupBy. One
  shuffle on the fingerprint; map-side partial agg makes it cheap.
- **MinHash + LSH**: per-doc signature of k min-hashes over word shingles →
  band buckets → candidate pairs only *within* buckets (the classic
  shingle→minhash→band→bucket-join pipeline). Avoids the O(n²) pair blowup:
  the only shuffle keys are (band_id, band_hash), and the pair join
  explodes only same-bucket groups.
- **n-gram Jaccard**: exact verification on candidate pairs
  (array_intersect/array_union on shingle sets — JVM-side).

Hash functions are md5-hex-string based: engine-portable (identical in
DuckDB), deterministic, and uniformly distributed. min() over hex strings
is the MinHash order statistic — lexicographic min of a uniform hash is as
good as numeric min.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.functions import text as textf


def _shingle_array(arr, n: int):
    """Column of space-joined ``n``-token shingles built from a token
    ARRAY column by zipping it with its own shifted tails (n-1 zip_with
    passes, each O(tokens) per row). ``arr`` MUST be a plain column
    reference (an attribute), not an inline expression: inlining the
    tokenization here re-evaluates it per zip pass — the O(tokens²)
    trap pinned on ``functions.text.shingles``. The shingle count is
    clamped at 0 because a row shorter than n tokens yields a NEGATIVE
    slice length, which throws; the empty array explodes to nothing.
    Shared by :func:`shingle_rows` (per-document) and
    :func:`paragraph_near_dup` (per-paragraph)."""
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    z = F.slice(arr, 1, m)
    for k in range(2, n + 1):
        z = F.zip_with(
            z, F.slice(arr, k, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return z


def shingle_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    n_partitions: int = 32,
) -> DataFrame:
    """(id, shingle) rows — may contain duplicate shingles per doc.

    Array plan: shingle INSIDE the row (:func:`_shingle_array`), then
    explode the finished shingles. No per-token window: the old
    posexplode + lead() shape paid a per-partition sort over exploded
    token rows before every downstream shuffle — measured 2x on the
    shingle->distinct stage every dedup pipeline starts with. The token
    array is projected to a column FIRST so the slice/zip lambdas
    reference an attribute, never re-evaluating the tokenization
    (CollapseProject keeps the two-step projection because the alias is
    non-cheap and multiply referenced).

    The id-keyed repartition happens BEFORE tokenization: it
    parallelizes the work even from a single-file scan, and the shuffle
    moves compact documents, never exploded token or shingle rows.
    """
    base = df.repartition(n_partitions, F.col(id_col)).select(
        F.col(id_col), textf.tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    z = _shingle_array(F.col("_toks"), n)
    return base.select(F.col(id_col), F.explode(z).alias("s"))


def fingerprint_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by normalized-text fingerprint.

    Returns one row per distinct fingerprint: canonical (min) id, dup count.
    """
    fp = df.select(
        F.col(id_col), textf.fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("n_docs")
    )


def _seeded_md5(prefix: str):
    # single-arg lambda: a two-arg lambda would be treated by transform()
    # as the (element, index) binary form and shadow the seed
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(text_col, k: int = 8, shingle_n: int = 3):
    """k md5-min-hashes over the shingle set → array<string> signature.

    Column expression; no UDF. Each hash i = min over shingles of
    md5('<i>:' || shingle).
    """
    sh = textf.shingles(text_col, shingle_n)
    return F.array(
        *[
            F.array_min(F.transform(sh, _seeded_md5(f"{i}:")))
            for i in range(k)
        ]
    )


def minhash_signature_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, shingle_n: int = 3, shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<string>) via the aggregation plan: explode shingles to
    rows, then k min() aggregates.

    This is the scale shape: one shuffle on id with map-side partial min
    (cheap), every expression codegen-able. The pure-column variant
    (``minhash_signature``) nests higher-order functions k× deep, which
    Catalyst neither CSEs nor compiles — measured 10× slower.
    """
    # duplicates don't affect min() → no distinct needed before the agg.
    # ``shingles``: pass a precomputed (persisted) shingle_rows frame when
    # the same shingles feed several stages (bands + verification) — the
    # explode/window pipeline is the dominant cost and shouldn't run twice.
    sh_rows = shingles if shingles is not None else shingle_rows(df, id_col, text_col, shingle_n)
    agg = sh_rows.groupBy(id_col).agg(
        *[F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"_h{i}") for i in range(k)]
    )
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"_h{i}") for i in range(k)]).alias("sig")
    )


def minhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  k: int = 8, bands: int = 4, shingle_n: int = 3,
                  shingles: DataFrame | None = None) -> DataFrame:
    """Doc → (band_id, band_key) rows. Docs sharing any band key are
    near-duplicate candidates. k/bands hashes per band."""
    rows_per_band = k // bands
    with_sig = minhash_signature_df(df, id_col, text_col, k, shingle_n, shingles=shingles)
    # signature computed once (agg plan), bands exploded from it
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|", F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return with_sig.select(
        F.col(id_col), F.explode(band_structs).alias("b")
    ).select(id_col, F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))


def candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join within (band_id, band_key) buckets → distinct candidate
    pairs (a < b). The join key is the bucket, so only same-bucket groups
    explode — this is what keeps LSH sub-quadratic at scale."""
    a = bands_df.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("a")
    )
    b = bands_df.select(
        F.col("band_id"), F.col("band_key"), F.col(id_col).alias("b")
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3, shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs:
    |A∩B| = matching-shingle count, |A∪B| = |A| + |B| - |A∩B|.

    Each candidate pair joins the two per-doc shingle ARRAYS (one row
    per doc, built once from the distinct shingle table, size riding
    the same aggregate) and intersects them in-row with
    array_intersect. Work remains candidate-bounded (Σ(|A|+|B|) over
    pairs) but flows as one row per PAIR instead of one row per
    (pair, shingle) through two joins, an aggregate, and three size
    joins — the same reshape measured ~2x on the setsim family."""
    sh_rows = shingles if shingles is not None else shingle_rows(df, id_col, text_col, shingle_n)
    sh = sh_rows.distinct()
    arrs = sh.groupBy(id_col).agg(
        F.collect_list("s").alias("_toks"), F.count("*").alias("sz")
    )
    return (
        pairs.join(
            arrs.select(
                F.col(id_col).alias("a"),
                F.col("_toks").alias("_ta"),
                F.col("sz").alias("sz_a"),
            ),
            "a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("b"),
                F.col("_toks").alias("_tb"),
                F.col("sz").alias("sz_b"),
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_ta", "_tb")).alias("n_inter"),
            "sz_a",
            "sz_b",
        )
        .select(
            "a",
            "b",
            F.round(
                F.col("n_inter")
                / F.greatest(F.col("sz_a") + F.col("sz_b") - F.col("n_inter"), F.lit(1)),
                6,
            ).alias("jaccard"),
        )
    )


def winnowing_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, w: int = 4, n_partitions: int = 32,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer,
    Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003): hash every character k-gram, slide a
    w-window over the hash sequence, keep each window's minimum — the
    guarantee is that any match of length >= w+k-1 shares a fingerprint,
    while only ~2/(w+1) of hashes are kept.

    Returns distinct (id, fingerprint-hash) rows.

    Scale shape: the one shuffle happens BEFORE the gram explosion — an
    id-keyed repartition of compact documents that (a) parallelizes the
    md5 work across tasks even from a single-file scan and (b) already
    satisfies the per-doc window's hash partitioning, so the exploded
    gram rows (∝ corpus bytes) are never shuffled at all. Then one
    per-DOC window (never a global sort) and distinct. The 16-bit
    md5-prefix hash is the repo-wide engine-portable hash contract.
    """
    norm = F.lower(F.col(text_col))
    n_grams = (F.length(norm) - k + 1).alias("n_grams")
    grams = (
        df.repartition(n_partitions, F.col(id_col))
        .filter(F.length(norm) >= k)
        .select(
            F.col(id_col), norm.alias("_t"), n_grams,
            F.explode(F.sequence(F.lit(1), F.length(norm) - k + 1)).alias("pos"),
        )
        .select(
            id_col, "n_grams", "pos",
            F.conv(
                F.substring(F.md5(F.substr(F.col("_t"), F.col("pos"), F.lit(k))), 1, 4),
                16, 10,
            ).cast("int").alias("h"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("h").over(win))
        # full windows only; a doc shorter than w grams keeps its single
        # all-grams window (start position 1)
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w + 1, F.lit(1)))
        .select(id_col, "fp")
        .distinct()
    )


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 50,
    shuffle_partitions: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair graph by min-label
    propagation — the step that turns near-dup PAIRS into dedup CLUSTERS
    (keep one canonical doc per component, drop the rest).

    Pregel-style iteration (the GraphX/GraphFrames pattern, no library
    needed): every node starts labeled with itself; each round a node
    (1) takes the min of its own label and its neighbors' labels
    (HashMin), then (2) pointer-jumps — ``label := label(label)`` — so
    labels chase their component minimum at doubling speed: round count
    is O(log diameter), not O(diameter), which is what survives a
    pathological chain-shaped component (a path of 10^6 docs converges
    in ~20 rounds, not 10^6). The driver loop checks ONE scalar per
    round (changed-count) — the data never leaves the cluster.

    Lineage hardening: the label frame is localCheckpoint-ed (eager)
    every round, truncating the plan — the pointer-jump self-join
    DOUBLES the logical plan per round, so an uncheckpointed loop sends
    Catalyst analysis cost to 2^rounds (minutes of driver time by round
    ~10). The materialization is free in context: the changed-count
    action would materialize the frame anyway. If the loop exhausts
    ``max_iter`` with labels still moving, a RuntimeWarning fires: the
    result is then over-split (some nodes not yet folded to their
    component minimum), never wrong-merged. Convergence is detected by
    the label-sum invariant — labels only ever decrease, so the sum is
    strictly decreasing until fixpoint — one tiny aggregate per round
    instead of a join against the previous frame.

    ``shuffle_partitions`` overrides the session shuffle width for the
    iteration (restored on exit): the label/edge frames are PAIR-sized,
    typically orders of magnitude below the corpus the session default
    is tuned for, and each round schedules several shuffles — measured
    ~15% total win at sf0.1 with 8 vs 32. Leave None to inherit (the
    right call when the pair graph itself is large). Conf mutation is
    session-wide for the duration — the suite runs queries
    sequentially; concurrent jobs in the same session should pass None.

    ``driver_threshold``: a size-based strategy switch, the same call
    Spark itself makes when it broadcasts a small join side. The
    distinct edge list is counted once (its build shuffle happens either
    way); at or below the threshold the graph is CONTROL-SIZED — 100k
    edges is a few MB — and a driver union-find replaces the iterative
    loop, whose per-round cost at that size is pure job-scheduling
    overhead (measured: a 256-edge LSH graph spent ~4 s on a 2-round
    distributed converge that union-find answers in milliseconds).
    Above the threshold the distributed HashMin + pointer-jump loop runs
    unchanged — that is the 100 TB path, where the pair graph can dwarf
    driver memory. Pass 0 to force the distributed loop.

    Returns (node, component) for every node that appears in ``pairs``;
    singletons (docs with no near-dup) are their own implicit components
    and are intentionally absent.
    """
    spark = pairs.sparkSession
    a_type = pairs.schema[a_col].dataType.simpleString()
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    if driver_threshold and edges.count() <= driver_threshold:
        try:
            # Collect UNFILTERED so every endpoint — including a node whose
            # only appearance is a self-loop pair (a, a) — seeds the parent
            # map; the distributed loop returns such nodes (component a) and
            # the two strategies must agree on the node set. The symmetric
            # duplicate (b, a) just re-finds already-united roots.
            rows = edges.collect()
            parent: dict = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in rows:
                ra, rb = find(r.src), find(r.dst)
                if ra != rb:
                    # min-label union: the component id is the min node,
                    # matching the distributed loop and the oracle SQL
                    parent[max(ra, rb)] = min(ra, rb)
            out = [(n, find(n)) for n in parent]
            # Arrow-backed local frame, not a Python-parallelize one:
            # the result is consumed by a downstream groupBy in every
            # caller, and a pickled-RDD backing pays a Python-worker
            # roundtrip per action (measured 0.44-3.3 s vs 0.2 s, r13)
            from milvus_cdc_spark.catalog import local_frame

            return local_frame(
                spark, out, f"node {a_type}, component {a_type}"
            )
        finally:
            edges.unpersist()
    prev_parts = None
    if shuffle_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        return _connected_components_loop(edges, max_iter)
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _connected_components_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    """``edges`` is the already-persisted distinct undirected (src, dst)
    frame built by connected_components (shared with its size probe)."""
    import warnings

    # Seeded init: label(v) = min(v, min neighbor). The node-distinct
    # pass was a shuffle anyway; folding round 1's HashMin into the same
    # aggregation is free and typically saves a whole join round (tiny
    # LSH components converge in 1-2 rounds from this start).
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label")
        .persist()
    )
    # Convergence tracking: labels are monotonically non-increasing
    # (every update is a least(...), and label(v) <= v from the seed
    # on), so the label SUM strictly decreases iff ANY label changed —
    # a one-column aggregate on the new frame replaces a
    # join-against-previous per round. Summing the SEED state up front
    # (one tiny aggregate on the already-persisted frame) lets round 1
    # detect that the seed was already the fixpoint — for LSH near-dup
    # graphs (pairs/triangles whose min neighbor IS the component min)
    # that halves the round count, and a round costs several shuffles.
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("nbr_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_label").alias("min_nbr"))
        )
        stepped = (
            labels.join(nbr, labels["node"] == nbr["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("min_nbr"), F.col("label"))
                ).alias("label"),
            )
            .persist()  # read twice by the pointer-jump self-join
        )
        # pointer jump: follow my label to ITS label (labels are always
        # node ids within the same component, monotonically decreasing,
        # so the jump can only move toward the component minimum)
        jumped = (
            stepped.join(
                stepped.select(
                    F.col("node").alias("label"), F.col("label").alias("_jump")
                ),
                "label",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_jump"), F.col("label"))
                ).alias("label"),
            )
        )
        # eager, measured: lazy (letting the sum aggregate materialize
        # the checkpoint) was ~30% SLOWER end-to-end at sf0.1 — the agg
        # job then carries the full join DAG instead of a one-stage scan
        # over checkpoint blocks
        new_labels = jumped.localCheckpoint(eager=True)
        # decimal(38,0): a bigint sum could overflow at 10^8 nodes with
        # near-2^63 ids; strict monotone decrease is the invariant
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        stepped.unpersist()
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    edges.unpersist()
    if not converged:
        warnings.warn(
            f"connected_components: exhausted max_iter={max_iter} with "
            "labels still changing; components are over-split "
            "(raise max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


def near_dup_pipeline(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """End-to-end near-dup detection: shingle once (persisted), LSH-band
    for candidates, verify with exact Jaccard.

    The shingle frame feeds both the signature aggregate and the
    verification joins; persisting it halves the pipeline's dominant
    cost (tokenize + window n-gram assembly). At 100 TB the persist
    becomes a staged table (write once, read by both stages)."""
    sh = cache(shingle_rows(df, id_col, text_col, shingle_n))
    band_rows = minhash_bands(df, id_col, text_col, k, bands, shingle_n, shingles=sh)
    pairs = candidate_pairs(band_rows, id_col)
    return jaccard_pairs(df, pairs, id_col, text_col, shingle_n, shingles=sh)


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float = 0.98,
    n_bands: int = 8,
    band_dims: int = 8,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: sign-LSH banding for
    candidates, exact cosine for the verdict — the vector-space twin of
    the MinHash pipeline above (candidates from buckets, verify exactly,
    never all-pairs).

    Candidate generation uses the signs of the RAW dimensions, grouped
    into ``n_bands`` contiguous bands of ``band_dims`` dims: two vectors
    are candidates iff some band's sign pattern matches exactly (the
    banding trick over 1-bit SimHash-style sketches; for near-identical
    vectors a band survives unless a near-zero dimension flips).
    Deterministic and engine-portable — no random hyperplanes, so the
    DuckDB oracle reproduces buckets bit-for-bit.

    Scale: the only shuffles are the (band, bucket) self-join and the
    two verify joins keyed on doc id. 2^band_dims buckets per band must
    scale with the corpus — size ``band_dims ~ log2(n_docs /
    target_bucket)`` so bucket groups stay bounded and the within-bucket
    pair explosion never goes quadratic; candidates are verified with
    one JVM-side cosine, rounded to 6dp before the threshold so both
    engines agree at the boundary.

    Returns (doc_a, doc_b, cosine) with doc_a < doc_b, cosine >=
    threshold.
    """
    from milvus_cdc_spark.functions import vector as vecf

    # ``vectors`` feeds three consumers (bucketing + both verify sides);
    # persist so the input (often a derived/augmented frame) is computed
    # once. Only persist (and register for release) when the CALLER has
    # not already cached it: persist() raises on a second call at a
    # different storage level, and cache levels are not refcounted — an
    # unpersist here would silently drop the caller's own cache.
    lvl = vectors.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        vectors = cache(vectors)
    vec = F.col(vec_col)
    band_cols = []
    for b in range(n_bands):
        bits: F.Column | None = None
        for i in range(band_dims):
            t = F.when(
                F.element_at(vec, b * band_dims + i + 1) >= 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            bits = t if bits is None else bits + t
        band_cols.append(bits)
    buckets = vectors.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )
    # Candidate pairs via the bucket SELF-JOIN, not in-row co_group_pairs:
    # LSH buckets here are ~100+ docs, so per-group pair fan-out is tens of
    # thousands — the join streams those pairs through whole-stage codegen
    # (broadcast at this size, sort-merge with per-key streaming at scale),
    # while collect_set + in-row enumeration would allocate the whole
    # quadratic pair array per bucket row. In-row wins only for SMALL
    # bounded groups (order baskets, <= ~10 items); measured 2-3x slower
    # here.
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("doc_a"), vec.alias("_va"))
    vb = vectors.select(F.col(id_col).alias("doc_b"), vec.alias("_vb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(vecf.cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    band_dims: int | None = None,
    n_bands: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    by k-means clustering + within-cluster cosine pruning.

    1. Cluster the embeddings with the deterministic distributed Lloyd
       k-means (``similarity.ivf_train``: k lowest-id seeds, squared-L2
       assignment, 6-dp-rounded means between iterations).
    2. Assign every vector to its nearest FINAL centroid by squared L2
       (ties → lower centroid id).
    3. Within each cluster, order members farthest-from-centroid first
       (the paper keeps the examples with LOW similarity to the
       centroid; ties → lower id). A member is pruned iff some
       earlier-in-order member of the same cluster has cosine >=
       ``threshold`` with it.

    The quadratic surface is the within-cluster pair join. Two levers,
    both measured in scripts/scale_bench.py:

    - the paper's own: scale ``k`` with the corpus (they use k=50,000 on
      LAION) so cluster sizes stay bounded. But k ∝ n makes the n x k
      broadcast ASSIGNMENT quadratic in turn (measured 11.8x at 10x
      data) — fine up to moderate k, not the 100 TB shape alone;
    - ``band_dims``: keep k moderate and generate within-cluster
      candidates by sign-band LSH instead of all-pairs — the join key
      becomes (centroid, band, bucket) and only sign-colliding members
      pair up, the same sub-quadratic trick as ``embedding_near_dup``
      (and the same recall trade: a near-dup pair is missed iff every
      band has a sign flip; near-identical vectors flip only near-zero
      dims). Size ``band_dims ~ log2(cluster_size)`` as the corpus
      grows. This is the 100 TB path: assignment stays n x k with small
      k, candidates stay bucket-bounded.

    Everything is JVM-side column algebra (sequential-fold distances →
    bit-identical across engines); no UDFs, no collects.

    Returns one row per vector: (id, centroid_id, d2_micro, pruned)
    where d2_micro = round(squared-L2-to-centroid * 1e6) as BIGINT
    (integer micro-units so downstream averages are order-independent).
    """
    from milvus_cdc_spark.analytics import similarity
    from milvus_cdc_spark.functions import vector as vecf

    cent = similarity.ivf_train(
        vectors, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    )
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # assigned feeds THREE consumers (both pair sides + the band
    # buckets), each of which would otherwise re-run the whole Lloyd
    # training + assignment lineage — persist it once. The raw squared-L2
    # double is a sequential left-to-right fold, bit-identical in DuckDB,
    # so it is safe to compare and order on.
    assigned = cache(
        similarity.nearest(
            v,
            cent.select("centroid_id", "centroid"),
            vecf.l2_squared(F.col("_v"), F.col("centroid")),
            ["_id"],
        )
        .select("_id", "centroid_id", F.col("_dist").alias("_d2"))
        .join(v, "_id")
    )
    a = assigned.select(
        F.col("centroid_id"),
        F.col("_id").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_d2").alias("_d2a"),
    )
    b = assigned.select(
        F.col("centroid_id"),
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_d2").alias("_d2b"),
    )
    keep_before = (F.col("_d2a") > F.col("_d2b")) | (
        (F.col("_d2a") == F.col("_d2b")) & (F.col("_ida") < F.col("_idb"))
    )
    if band_dims is None:
        cand = a.join(b, on=["centroid_id"])
    else:
        # banded candidates: only sign-colliding cluster members pair up
        # — the within-cluster twin of embedding_near_dup's LSH. The
        # bucket join and the distinct carry bare id pairs (vectors and
        # d2 join back after), so the shuffle stays narrow.
        vec = F.col("_v")
        bands = []
        for bb in range(n_bands):
            bits: F.Column | None = None
            for i in range(band_dims):
                t = F.when(
                    F.element_at(vec, bb * band_dims + i + 1) >= 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                bits = t if bits is None else bits + t
            bands.append(bits)
        buckets = assigned.select(
            F.col("_id"),
            F.col("centroid_id"),
            F.posexplode(F.array(*bands)).alias("_band", "_bucket"),
        )
        cand_ids = (
            buckets.select("centroid_id", "_band", "_bucket", F.col("_id").alias("_ida"))
            .join(
                buckets.select(
                    "centroid_id", "_band", "_bucket", F.col("_id").alias("_idb")
                ),
                on=["centroid_id", "_band", "_bucket"],
            )
            .filter(F.col("_ida") != F.col("_idb"))
            .select("centroid_id", "_ida", "_idb")
            .distinct()
        )
        cand = cand_ids.join(a, ["centroid_id", "_ida"]).join(
            b, ["centroid_id", "_idb"]
        )
    pruned_ids = (
        cand.filter(keep_before)
        .filter(F.round(vecf.cosine(F.col("_va"), F.col("_vb")), 6) >= threshold)
        .select(F.col("_idb").alias("_pid"))
        .distinct()
    )
    return (
        assigned.join(
            pruned_ids, assigned["_id"] == pruned_ids["_pid"], "left"
        )
        .select(
            F.col("_id").alias(id_col),
            "centroid_id",
            # floor(x + 0.5), not round(): identical half-up in every engine
            F.floor(F.col("_d2") * 1e6 + 0.5).cast("bigint").alias("d2_micro"),
            F.col("_pid").isNotNull().alias("pruned"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_partitions: int = 32,
) -> DataFrame:
    """Duplicated-span coverage per document — the measurable core of
    exact substring deduplication (Lee et al., arXiv:2107.06499:
    Deduplicating Training Data Makes Language Models Better). The
    suffix-array formulation finds every substring of >= N tokens that
    appears twice anywhere in the corpus; the distributed equivalent at
    n-gram granularity: a token position is DUPLICATED if some n-gram
    covering it occurs >= 2 times corpus-wide (intra-doc repetition
    counts, exactly as in the paper). A span of t >= n duplicated
    tokens is covered by its t-n+1 duplicated n-grams, so n-gram
    coverage and substring coverage agree for spans >= n.

    Plan: n-grams assemble INSIDE the row (zip_with over the token
    array's shifted tails, as shingle_rows — no per-token window sort),
    the md5 gram keys posexplode with their start position, one
    gram-keyed count shuffle (md5 key keeps rows narrow, map-side
    partial counts), the dup-gram join back, a bounded sequence()
    explode (n rows per dup occurrence), and one id-keyed distinct.
    The token count falls straight out of the array size — no exploded
    token frame at all. Nothing is quadratic at any corpus size; real
    pipelines raise n (the paper uses 50) which only shrinks the dup
    set.

    Returns per doc: (id, n_toks, dup_tokens) — dup_tokens = distinct
    token positions covered by some duplicated n-gram.
    """
    base = docs.repartition(n_partitions, F.col(id_col)).select(
        F.col(id_col), textf.tokens(F.lower(F.col(text_col))).alias("_toks")
    )
    arr = F.col("_toks")
    m = F.greatest(F.size(arr) - (n - 1), F.lit(0))
    z = F.slice(arr, 1, m)
    for k in range(2, n + 1):
        z = F.zip_with(
            z, F.slice(arr, k, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = base.select(
        F.col(id_col),
        F.posexplode(F.transform(z, lambda g: F.md5(g))).alias("pos", "g"),
    )
    dupg = grams.groupBy("g").agg(F.count("*").alias("_n")).filter(F.col("_n") >= 2)
    covered = (
        grams.join(dupg.select("g"), "g")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "cpos"
            ),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("dup_tokens"))
    )
    n_toks = base.select(
        F.col(id_col), F.size(arr).cast("bigint").alias("n_toks")
    )
    return (
        docs.select(F.col(id_col))
        .join(n_toks, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_toks"), F.lit(0)).alias("n_toks"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        )
    )


def set_similarity_join(
    items: DataFrame,
    threshold_ppm: int = 500000,
    id_col: str = "id",
    item_col: str = "item",
) -> DataFrame:
    """EXACT Jaccard similarity self-join over element sets via prefix
    filtering — the AllPairs/PPJoin family (Bayardo et al., WWW 2007)
    in the MapReduce formulation of Vernica, Carey & Li (SIGMOD 2010).
    The exact complement to the MinHash-LSH path: zero false negatives,
    paid for with a frequency-ordered candidate stage.

    ``items`` is any (id, item) table — word tokens, shingles,
    n-grams; rows are deduplicated here. Candidate generation: order
    every set's elements globally by ascending document frequency
    (tie: the element string) — rarest first. For Jaccard >= t,
    |A∩B| >= ceil(t*|A|) (the intersection is an integer and J >= t
    forces overlap >= t*max(|A|,|B|)), so a qualifying pair must share
    an element within each side's first ``|X| - ceil(t*|X|) + 1``
    elements under that shared order. Only those PREFIX elements feed
    the candidate equi-join — the frequency ordering pushes prefixes to
    the RARE end of the vocabulary, so candidate buckets stay small
    where a naive element join would explode on stopwords.

    The threshold is integer ppm and ceil is integer arithmetic
    (``(n*t + 999999) div 1e6``) — no float boundary anywhere.

    Plan: distinct (one shuffle), frequency aggregate (map-side
    combined), per-set rank window with the set SIZE computed by a
    second window function over the SAME id partitioning (one exchange
    — no separate size aggregate + join on this path), prefix
    self-equi-join on the element, distinct candidate pairs, then EXACT
    verification: each candidate pair joins the per-set ELEMENT ARRAYS
    (one row per set, built once from the distinct table) and
    intersects them in-row with array_intersect — candidate-bounded
    work with no per-(pair, element) shuffle; the old element-table
    expansion moved |A| rows per candidate through two joins and an
    aggregate.

    Two further PPJoin prunes run INSIDE the candidate join, before
    the distinct and the array-carrying verify joins (both exact —
    they only discard pairs that cannot qualify):

    - LENGTH filter (AllPairs): J >= t forces
      ``min(|A|,|B|)*1e6 >= max(|A|,|B|)*t`` (inter <= min, and
      inter >= t*uni >= t*max).
    - POSITIONAL filter (PPJoin): both sets are ranked by the SAME
      global (df, element) order, so at the FIRST common element —
      positions (rn_a, rn_b) — every common element sits at or after
      those positions in both sets, hence
      ``inter <= 1 + min(|A|-rn_a, |B|-rn_b)``. J >= t needs
      ``inter*(1e6+t) >= t*(|A|+|B|)``; rows whose upper bound misses
      it are dropped. A qualifying pair's first-common-element row
      always passes (the bound is valid there), so the pair survives
      the distinct — zero false negatives. Measured at sf0.1: 409k ->
      125k candidate pairs (-69%) feeding the verify stage.

    Returns (a, b, inter, uni, jacc_ppm) with a < b and
    jacc_ppm >= threshold_ppm.
    """
    toks = cache(
        items.select(
            F.col(id_col).alias("id"), F.col(item_col).alias("tok")
        )
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    ranked = toks.join(dfreq, "tok").select(
        "id",
        "tok",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    # prefix length |X| - ceil(t|X|) + 1, all-integer ceil
    plen = (
        F.col("n")
        - F.expr(f"(n * {threshold_ppm} + 999999) DIV 1000000")
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("rn") <= plen).select("id", "tok", "rn", "n")
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    na_, nb_ = F.col("pa.n").cast("bigint"), F.col("pb.n").cast("bigint")
    overlap_ub = F.lit(1) + F.least(
        na_ - F.col("pa.rn"), nb_ - F.col("pb.rn")
    )
    cand = (
        pa.join(
            pb,
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.id") < F.col("pb.id"))
            # length filter: min*1e6 >= max*t
            & (
                F.least(na_, nb_) * 1000000
                >= F.greatest(na_, nb_) * threshold_ppm
            )
            # positional filter: ubound*(1e6+t) >= t*(na+nb)
            & (
                overlap_ub * (1000000 + threshold_ppm)
                >= (na_ + nb_) * threshold_ppm
            ),
        )
        .select(F.col("pa.id").alias("a"), F.col("pb.id").alias("b"))
        .distinct()
    )
    arrs = toks.groupBy("id").agg(
        F.collect_list("tok").alias("_toks"),
        F.count("*").cast("bigint").alias("_n"),
    )
    return (
        cand.join(
            arrs.select(
                F.col("id").alias("a"),
                F.col("_toks").alias("_ta"),
                F.col("_n").alias("na"),
            ),
            "a",
        )
        .join(
            arrs.select(
                F.col("id").alias("b"),
                F.col("_toks").alias("_tb"),
                F.col("_n").alias("nb"),
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_ta", "_tb"))
            .cast("bigint")
            .alias("inter"),
            "na",
            "nb",
        )
        .select(
            "a",
            "b",
            "inter",
            (F.col("na") + F.col("nb") - F.col("inter"))
            .cast("bigint")
            .alias("uni"),
            F.expr("inter * 1000000 DIV (na + nb - inter)")
            .cast("bigint")
            .alias("jacc_ppm"),
        )
        .filter(F.col("jacc_ppm") >= threshold_ppm)
    )


def containment_join(
    items: DataFrame,
    threshold_ppm: int = 800000,
    id_col: str = "id",
    item_col: str = "item",
) -> DataFrame:
    """ASYMMETRIC containment self-join: ordered pairs (a, b) with
    |A∩B| / |A| >= t — the quote/subset detector (a short document
    embedded in a longer one, benchmark text quoted inside a training
    page). Jaccard dedup structurally MISSES these: a 50-shingle doc
    fully contained in a 500-shingle doc has J ≈ 0.1.

    Prefix filtering adapts (Chaudhuri, Ganti & Kaushik, ICDE 2006):
    overlap >= ceil(t*|A|) forces at least one of A's first
    ``|A| - ceil(t*|A|) + 1`` elements (ascending document frequency,
    tie on the element) to appear ANYWHERE in B — B gets no prefix
    (containment is one-sided), so candidates come from A's prefix
    joined against the FULL element table. The prefix rides the rare
    vocabulary end, so buckets stay small exactly where the full table
    is largest.

    Same exact verification and integer-ceil arithmetic as
    :func:`set_similarity_join`; returns (a, b, inter, na,
    containment_ppm) with a != b, containment_ppm >= threshold.

    The one-sided LENGTH filter (exact: ``inter <= |B|`` so
    ``|B|*1e6 >= t*|A|``) runs in the VERIFY stage, after both size
    columns are joined but BEFORE the array intersection is computed —
    zero extra operators, and the in-row intersect (the verify stage's
    real cost) is skipped for pairs that cannot qualify. It does NOT
    run inside the candidate join: B's size (or rank, for the PPJoin
    positional filter) would price the whole element table through the
    frequency-rank window, measured ~1.3x SLOWER end-to-end here — the
    B side is otherwise a bare scan of the persisted distinct table
    (contrast set_similarity_join, where BOTH sides are already ranked
    for their prefixes and the length+positional prunes are free).
    """
    toks = cache(
        items.select(
            F.col(id_col).alias("id"), F.col(item_col).alias("tok")
        )
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tok")
    ranked = toks.join(dfreq, "tok").select(
        "id",
        "tok",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    plen = (
        F.col("n")
        - F.expr(f"(n * {threshold_ppm} + 999999) DIV 1000000")
        + F.lit(1)
    )
    prefix = ranked.filter(F.col("rn") <= plen).select("id", "tok")
    cand = (
        prefix.alias("p")
        .join(
            toks.alias("t"),
            (F.col("t.tok") == F.col("p.tok"))
            & (F.col("t.id") != F.col("p.id")),
        )
        .select(F.col("p.id").alias("a"), F.col("t.id").alias("b"))
        .distinct()
    )
    # exact verify on per-set element arrays (see set_similarity_join)
    arrs = toks.groupBy("id").agg(
        F.collect_list("tok").alias("_toks"),
        F.count("*").cast("bigint").alias("_n"),
    )
    return (
        cand.join(
            arrs.select(
                F.col("id").alias("a"),
                F.col("_toks").alias("_ta"),
                F.col("_n").alias("na"),
            ),
            "a",
        )
        .join(
            arrs.select(
                F.col("id").alias("b"),
                F.col("_toks").alias("_tb"),
                F.col("_n").alias("_nb"),
            ),
            "b",
        )
        # one-sided length filter BEFORE the in-row intersect:
        # inter <= |B|, so |B|*1e6 >= t*|A| or the pair cannot qualify
        .filter(F.col("_nb") * 1000000 >= F.col("na") * threshold_ppm)
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_ta", "_tb"))
            .cast("bigint")
            .alias("inter"),
            "na",
        )
        .select(
            "a",
            "b",
            "inter",
            "na",
            F.expr("inter * 1000000 DIV na")
            .cast("bigint")
            .alias("containment_ppm"),
        )
        .filter(F.col("containment_ppm") >= threshold_ppm)
    )


def paragraph_near_dup(
    docs: DataFrame,
    width: int = 40,
    shingle_n: int = 5,
    max_df: int = 64,
    threshold_ppm: int = 500000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph-granularity near-duplicate accounting — the dedup stage
    BETWEEN line-level exact dedup (corpus.line_level_dedup, C4 §2.2)
    and whole-document MinHash: a paragraph is flagged when some
    paragraph of a DIFFERENT document shares >= ``threshold_ppm``
    (integer Jaccard over distinct ``shingle_n``-token shingles) with
    it — the "same boilerplate paragraph pasted across pages / quoted
    passage" detector that neither neighbor granularity catches (a
    duplicated paragraph is invisible to whole-doc MinHash when the
    rest of the document differs, and invisible to exact line dedup
    when one token changed).

    The fixture corpus carries no newlines, so fixed-width ``width``-
    token windows (corpus.pseudo_lines) stand in for paragraphs — swap
    the splitter for ``split(text, '\\n\\n')`` on a real corpus; every
    plan below is unchanged.

    Scale shape (the reason this is bucketed, not all-pairs):

    - Shingles are keyed by a 16-hex md5 prefix, so every shuffle
      carries 16-byte fingerprints, never paragraph text.
    - Candidate pairs come ONLY from an equi-self-join on the shingle
      fingerprint; a shingle occurring in more than ``max_df``
      paragraphs corpus-wide is a stop-shingle and is dropped from the
      join via a left_anti against the (small by construction)
      stop-list, bounding any one join key's fan-out at
      ``max_df * (max_df - 1) / 2`` pairs. Jaccard denominators keep
      the UNCAPPED per-paragraph shingle counts, so the cap can only
      under-count ``shared`` — a conservative, deterministic miss on
      pairs whose overlap rides boilerplate shingles (both engines
      apply the identical cap, so the oracle reproduces it exactly).
    - Per-paragraph shingle sets are DISTINCT before sizing and
      joining: set semantics, and the join input is minimal.

    Returns per-doc (id, n_paras, n_flagged, flagged_ppm) over
    paragraphs long enough to shingle (>= ``shingle_n`` tokens);
    flagged_ppm is integer parts-per-million.
    """
    from milvus_cdc_spark.analytics import corpus

    paras = corpus.pseudo_lines(docs, width, id_col, text_col)
    base = paras.select(
        F.col(id_col),
        F.col("line_id").alias("para_id"),
        textf.tokens(F.col("line_text")).alias("_toks"),
    )
    z = _shingle_array(F.col("_toks"), shingle_n)
    sh = cache(
        base.select(F.col(id_col), F.col("para_id"), F.explode(z).alias("s"))
        .select(
            F.col(id_col),
            F.col("para_id"),
            F.substring(F.md5(F.col("s")), 1, 16).alias("k"),
        )
        .distinct()
    )
    sizes = sh.groupBy(id_col, "para_id").agg(
        F.count("*").alias("n_sh")
    )
    stop = (
        sh.groupBy("k")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("k")
    )
    # no broadcast hint: the stop-list is tiny at test scale but grows
    # with corpus vocabulary — let AQE broadcast it while it fits and
    # demote to a shuffled anti-join when it doesn't (a pinned hint
    # could not be demoted at 100 TB)
    shf = sh.join(stop, "k", "left_anti")
    a = shf.select(
        F.col(id_col).alias("doc_a"), F.col("para_id").alias("para_a"), "k"
    )
    b = shf.select(
        F.col(id_col).alias("doc_b"), F.col("para_id").alias("para_b"), "k"
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "para_a", "doc_b", "para_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(
        F.col(id_col).alias("doc_a"),
        F.col("para_id").alias("para_a"),
        F.col("n_sh").alias("na"),
    )
    sb = sizes.select(
        F.col(id_col).alias("doc_b"),
        F.col("para_id").alias("para_b"),
        F.col("n_sh").alias("nb"),
    )
    scored = (
        pairs.join(sa, ["doc_a", "para_a"])
        .join(sb, ["doc_b", "para_b"])
        .withColumn(
            "j_ppm", F.expr("shared * 1000000 DIV (na + nb - shared)")
        )
        .filter(F.col("j_ppm") >= threshold_ppm)
    )
    flagged = (
        scored.select(
            F.col("doc_a").alias(id_col), F.col("para_a").alias("para_id")
        )
        .union(
            scored.select(
                F.col("doc_b").alias(id_col),
                F.col("para_b").alias("para_id"),
            )
        )
        .distinct()
        .withColumn("_f", F.lit(1))
    )
    return (
        sizes.join(flagged, [id_col, "para_id"], "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_paras"),
            F.count("_f").cast("bigint").alias("n_flagged"),
        )
        .withColumn(
            "flagged_ppm",
            F.expr("n_flagged * 1000000 DIV n_paras").cast("bigint"),
        )
    )
