"""BM25 full-text relevance scoring over a document corpus.

Parity note: Milvus collection schemas can attach a BM25 ``FunctionSchema``
(reference hydrates it at core/reader/etcd_op.go:666-691 but only *copies*
the declaration — scoring happens inside Milvus). Here the scoring itself
is implemented, Spark-first: explode → filtered term stats → broadcast
joins, no UDFs.

Scale shape (100 TB corpus): the only per-corpus shuffles are the doc-length
aggregate and the (doc, term) term-frequency aggregate — both keyed on
doc_id with map-side partial counts. Per-term document frequencies and the
corpus aggregate are rows ∝ |query terms| and 1 respectively → broadcast.
Scoring is then a map-only pass. Nothing is collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache
from milvus_cdc_spark.functions import text as textf
from milvus_cdc_spark.operators import windows

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    analyzer: str | None = None,
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)          (Lucene/ATIRE form)
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Documents containing no query term are absent from the result (their
    score is 0 by definition).

    ``analyzer=None`` keeps the legacy whitespace-lowercase tokenizer
    (the ``bm25_topk`` oracle contract); naming one of the
    functions.text.analyze analyzers applies it to BOTH the corpus and
    the query terms — Milvus's full-text-search BM25 runs the field's
    analyzer_params over both sides.
    """
    if analyzer is None:
        tok_expr = textf.tokens(F.lower(F.col(text_col)))
    else:
        from milvus_cdc_spark.functions.text import analyze, analyze_terms

        tok_expr = analyze(F.col(text_col), analyzer)
        terms = sorted(set(analyze_terms(terms, analyzer)))
    toks = docs.select(F.col(id_col), F.explode(tok_expr).alias("tok"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, id_col)
        .join(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).alias("bm25"))
    )


def bm25_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    analyzer: str | None = None,
    widen: bool = False,
) -> DataFrame:
    """Milvus 2.5 full-text-search BM25 *function* analog (milvus.io Full
    Text Search: a BM25 Function maps a VARCHAR field to a
    SPARSE_FLOAT_VECTOR indexed with SPARSE_INVERTED_INDEX): materialize
    each document's sparse vector as term-keyed postings
    ``(tok, doc_id, weight, idf)`` where ``weight`` is the
    document-side BM25 tf normalization — tf·(k1+1) / (tf + k1·(1−b +
    b·dl/avgdl)) — and ``idf`` is the term's corpus idf, applied at
    QUERY time exactly as Milvus/knowhere does (the stored vector is
    query-independent; a changed query re-weights, never re-indexes).

    The postings frame IS the sparse inverted index at scale: one
    corpus shuffle builds it; persist/bucket it by ``tok`` and each
    query touches only its terms' posting lists. The returned frame is
    PERSISTED (``cache_registry.cache`` — the local stand-in for the
    materialized index table): every search query consumes it at least
    twice (score + rank, or pruned + exact), and unpersisted consumers
    re-run the whole tokenize + aggregate build.
    """
    if widen:
        # keyed widen before tokenization (same contract as
        # dedup.shingle_rows): the tokenize + explode otherwise runs
        # inside the single-split documents scan stage; no-op on
        # well-split inputs. OPT-IN per call site — r14 interleaved A/B
        # kept it only where the index build dominates the query
        # (fulltext_drop_ratio 0.806, maxscore_pruned_search 0.753,
        # fulltext_sparse_search 0.842) and left the light consumers
        # alone (bm25_topk 1.02-1.12, more_like_this 0.95-1.10,
        # hybrid_dense_fulltext_rrf 0.93-1.02 — washes).
        from milvus_cdc_spark.partitioning import widen_small_scan

        docs = widen_small_scan(docs, id_col)
    if analyzer is None:
        tok_expr = textf.tokens(F.lower(F.col(text_col)))
    else:
        from milvus_cdc_spark.functions.text import analyze

        tok_expr = analyze(F.col(text_col), analyzer)
    toks = docs.select(F.col(id_col), F.explode(tok_expr).alias("tok"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    weight = (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    index = cache(
        tf.join(dl, id_col)
        .join(F.broadcast(stats))
        .join(dfreq, "tok")
        .select(
            "tok",
            F.col(id_col),
            weight.alias("weight"),
            idf.alias("idf"),
        )
    )
    return index


def fulltext_search(
    index: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    analyzer: str | None = None,
    drop_ratio_search: float = 0.0,
) -> DataFrame:
    """Query the sparse BM25 index: the score is the sparse dot product
    Σ_t idf(t)·weight(d,t) over the query's posting lists — identical to
    ``bm25_scores`` run directly (tested), but touching only |terms|
    posting lists of a prebuilt index instead of re-scanning text.
    ``analyzer`` must match the index build's.

    ``drop_ratio_search`` is the Milvus sparse search knob (milvus.io
    SPARSE_INVERTED_INDEX params): drop the smallest
    ``floor(ratio * nnz)`` entries of the QUERY vector before searching
    — for a BM25 query the entry values are the term idfs, so the
    lowest-idf (most common, least selective) terms are skipped and
    their posting lists never read. Ties break on the term string, so
    the drop set is deterministic cross-engine. The query vector is
    |terms| rows — the ranking window is explicitly catalog-sized.
    """
    if analyzer is not None:
        from milvus_cdc_spark.functions.text import analyze_terms

        terms = sorted(set(analyze_terms(terms, analyzer)))
    postings = index.filter(F.col("tok").isin(terms))
    if drop_ratio_search > 0.0:
        qvec = postings.select("tok", "idf").distinct()
        w = Window.orderBy(F.col("idf").asc(), F.col("tok").asc())
        keep = (
            qvec.withColumn("_r", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(Window.partitionBy()))
            .filter(
                F.col("_r") > F.floor(F.lit(drop_ratio_search) * F.col("_n"))
            )
            .select("tok")
        )
        postings = postings.join(F.broadcast(keep), "tok")
    return (
        postings.groupBy(id_col)
        .agg(F.sum(F.col("idf") * F.col("weight")).alias("bm25"))
    )


def _word_tokens(text_col, analyzer: str = "standard"):
    """The match-surface analyzer (functions.text.analyze; 'standard'
    is the shared default every existing contract is built on)."""
    from milvus_cdc_spark.functions.text import analyze

    return analyze(text_col, analyzer)


def text_match_all(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
) -> DataFrame:
    """Milvus TextMatch parity (``text_match(text, 'a b c')`` over an
    INVERTED text index): documents containing ALL query terms.

    Spark-first inverted-index shape: explode → distinct (doc, term)
    postings restricted to the query terms → per-doc distinct-term count
    == |terms|. At 100 TB the posting build is the one shuffle (keyed on
    doc_id, map-side partial), and retrieval touches only the |terms|
    posting lists — never a full-text rescan per query. Persist the
    posting table keyed by term to make repeated queries index-lookups.

    ``analyzer`` selects the field's analyzer_params; QUERY terms pass
    through the same analyzer (text.analyze_terms), as Milvus does — so
    with ``english``, 'glass' matches documents containing 'glasses'.
    """
    from milvus_cdc_spark.functions.text import analyze_terms

    qterms = sorted(set(analyze_terms(terms, analyzer)))
    toks = docs.select(
        F.col(id_col),
        F.explode(_word_tokens(F.col(text_col), analyzer)).alias("tok"),
    )
    hits = (
        toks.filter(F.col("tok").isin(qterms))
        .groupBy(id_col)
        .agg(F.count_distinct("tok").alias("n_terms"))
        .filter(F.col("n_terms") == len(qterms))
        .select(id_col)
    )
    return hits


def phrase_match(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "standard",
    slop: int = 0,
) -> DataFrame:
    """Milvus PhraseMatch parity (``phrase_match(text, 'w1 w2', slop)``):
    documents where the words occur as a phrase, via positional postings.

    posexplode keeps the token position; word occurrences join on the
    doc id with position predicates. Postings are filtered to the
    phrase's words BEFORE the self-join, so the join sides are
    posting-list-sized, not corpus-sized — the classic positional
    inverted-index plan.

    Slop semantics (tantivy/Lucene sloppy phrase, which Milvus 2.5's
    PHRASE_MATCH exposes):

    - two-word phrases use the exact Lucene move count — ``p2-p1-1``
      in order, ``p1-p2+1`` reversed (so slop >= 2 admits the reversed
      adjacent phrase) — matched iff moves <= slop;
    - longer phrases use the in-order span rule (positions strictly
      increasing, total extra gaps ``span - (n-1) <= slop``), a
      documented simplification: Lucene's full move-count for 3+ terms
      can exceed the span gap, so this is a superset of exact-Lucene
      matches for in-order occurrences and excludes reordered ones.
      The per-step bound ``pos_i <= pos0 + i + slop`` prunes each join
      without excluding any qualifying assignment (positions increase,
      so the final-span bound implies every intermediate one).

    ``analyzer`` applies to both sides (the phrase via
    text.analyze_terms) — note an analyzer that DROPS words (english
    stopwords) shifts positions on the document side the same way it
    shortens the phrase, keeping adjacency semantics consistent.
    """
    from milvus_cdc_spark.functions.text import analyze_terms

    phrase = analyze_terms(phrase, analyzer)
    toks = docs.select(
        F.col(id_col),
        F.posexplode(_word_tokens(F.col(text_col), analyzer)).alias("pos", "tok"),
    )
    if len(phrase) == 2 and slop > 0:
        a = toks.filter(F.col("tok") == phrase[0]).select(
            F.col(id_col), F.col("pos").alias("p1")
        )
        b = toks.filter(F.col("tok") == phrase[1]).select(
            F.col(id_col).alias("_bid"), F.col("pos").alias("p2")
        )
        moves = F.when(
            F.col("p2") > F.col("p1"), F.col("p2") - F.col("p1") - 1
        ).otherwise(F.col("p1") - F.col("p2") + 1)
        return (
            a.join(b, F.col(id_col) == F.col("_bid"))
            .filter(moves <= slop)
            .select(id_col)
            .distinct()
        )
    matched = toks.filter(F.col("tok") == phrase[0]).select(
        F.col(id_col), F.col("pos").alias("pos0")
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = toks.filter(F.col("tok") == word).select(
            F.col(id_col).alias("_nxt_id"), F.col("pos").alias(f"pos{i}")
        )
        if slop == 0:
            pos_pred = F.col(f"pos{i}") == F.col(f"pos{i-1}") + 1
        else:
            pos_pred = (F.col(f"pos{i}") > F.col(f"pos{i-1}")) & (
                F.col(f"pos{i}") <= F.col("pos0") + i + slop
            )
        matched = matched.join(
            nxt, (F.col(id_col) == F.col("_nxt_id")) & pos_pred
        ).drop("_nxt_id")
    return matched.select(id_col).distinct()


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k keyword extraction by tf-idf — the classic
    corpus-statistics summarizer (Salton & Buckley 1988; the shape
    behind spark.ml's HashingTF/IDF pipeline, computed exactly here).

    The idf factor is the integer ratio ``N * 1e6 DIV df`` (parts per
    million) rather than a log: a logarithm only rescales the ranking
    monotonically for a single term, and keeping tf·idf in exact BIGINT
    arithmetic makes the ranking — and therefore the output — bit-equal
    across engines (the repo-wide integer-units portability contract).
    Ties break on the term string ascending.

    Plan: one token explode, one (doc, term) count aggregate
    (map-side partial), one vocabulary-sized df aggregate joined back
    term-keyed (broadcast when the vocabulary fits, hash join keyed by
    term otherwise — never wider than (doc, term, count) rows), a 1-row
    corpus-size broadcast, and a per-doc top-k window. The window
    partitions by doc_id — thousands of rows per partition at most, no
    global sort anywhere.

    Returns (id, rank, term, tf, score) with rank in [1, k], ordered
    within each doc by score desc, term asc.
    """
    # r14 note (measured): keyed scan-widening before the tokenize was
    # inside noise here (interleaved A/B 2.30 stall-contaminated, then
    # 0.90 with overlapping spreads) — left on the single scan per the
    # keep-only-clear-winners rule.
    n_docs = docs.agg(F.count("*").alias("_n"))
    toks = docs.select(
        F.col(id_col),
        F.explode(textf.tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf_ppm", F.expr("_n * 1000000 DIV df"))
        .withColumn("score", (F.col("tf") * F.col("idf_ppm")).cast("bigint"))
    )
    order = [F.col("score").desc(), F.col("term").asc()]
    return (
        windows.top_k(scored, id_col, order, k)
        .select(id_col, "rank", "term", F.col("tf").cast("bigint").alias("tf"), "score")
    )


def maxscore_search(
    index: DataFrame,
    terms: list[str],
    k: int = 10,
    candidate_factor: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-phase MaxScore/WAND-style retrieval (Turtle & Flood 1995;
    the Lucene WAND/MAXSCORE family): phase 1 scores every candidate by
    the SUM OF PER-TERM UPPER BOUNDS (idf · max doc weight of that term
    — a |terms|-row broadcast), keeps only the top
    ``candidate_factor · k`` shortlist; phase 2 computes exact BM25 for
    the shortlist alone. Because ub_score >= exact score for every doc,
    any doc whose upper bound misses the shortlist can only be a true
    top-k member if candidate_factor·k docs have HIGHER upper bounds —
    the pruning is safe in the same probabilistic sense Lucene applies,
    and exact when the shortlist covers the score gap.

    Scale shape: both top selections are sort+limit —
    TakeOrderedAndProject (per-partition heaps + driver merge of C
    rows), NEVER a single-partition global sort; phase 2's expensive
    aggregation touches candidate_factor·k docs regardless of corpus
    size, and the shortlist joins back as a broadcast.

    Returns the top-k (id, bm25 rounded to 4).
    """
    postings = index.filter(F.col("tok").isin(list(terms)))
    posting = postings.select(
        id_col, "tok", (F.col("idf") * F.col("weight")).alias("contrib")
    )
    ub = posting.groupBy("tok").agg(F.max("contrib").alias("ub"))
    cand = (
        posting.join(F.broadcast(ub), "tok")
        .groupBy(id_col)
        .agg(F.round(F.sum("ub"), 6).alias("ub_score"))
    )
    shortlist = (
        cand.orderBy(F.col("ub_score").desc(), F.col(id_col))
        .limit(candidate_factor * k)
        .select(id_col)
    )
    exact = (
        posting.join(F.broadcast(shortlist), id_col)
        .groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 4).alias("bm25"))
    )
    return exact.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)
