"""Training-corpus preparation operators: chunking and data mixing.

The two ops every large-scale LLM data pipeline runs between raw
documents and the tokenizer, expressed as pure column plans:

- **Chunking**: split each document into fixed-size token windows with
  overlap (context-window packing / RAG indexing). Implemented with a
  per-row sequence + explode — rows out ∝ Σ ceil(tokens/stride), never a
  UDF, never a collect. Each chunk carries (doc_id, chunk_id, n_tokens,
  text) and is independently addressable downstream (embed, dedup,
  index).
- **Stratified sampling / mixing**: deterministic hash-based sampling at
  a per-source rate (data-mixture weighting). The sampling decision is
  ``md5(doc_id) mod 1000 < rate‰`` — reproducible across engines and
  runs, no RNG state, so a resampled pipeline is idempotent and
  auditable (the same doc is always in or out at a given rate).

At 100 TB both are map-only over the corpus (chunking multiplies rows
by ~tokens/stride before the shuffle to downstream ops; sampling prunes
before any expensive stage — apply it first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from milvus_cdc_spark.cache_registry import cache


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size token-window chunking with overlap.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens) where
    stride = chunk_tokens - overlap; the last window may be short but is
    never empty; a document shorter than one chunk yields one chunk.
    Tokens are whitespace words (functions.text.tokens semantics).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    # windows: 1 + ceil(max(n - chunk_tokens, 0) / stride), in exact
    # integer arithmetic (ceil(a/b) = (a + b - 1) // b) so both engines
    # count identically with no float in the path
    n_chunks = F.lit(1) + (
        (F.greatest(n - F.lit(chunk_tokens), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    chunked = (
        docs.select(F.col(id_col), toks.alias("_toks"), n_chunks.alias("_nc"))
        .select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(
                F.col("_toks"),
                F.col("chunk_id") * stride + 1,
                chunk_tokens,
            ).alias("_chunk_toks"),
        )
    )
    return chunked.select(
        id_col,
        "chunk_id",
        F.size("_chunk_toks").alias("n_tokens"),
        F.array_join("_chunk_toks", " ").alias("chunk_text"),
    )


def portable_nibble_hash(id_col: Column) -> Column:
    """First three md5 nibbles of the stringified id as a value in
    [0, 4096) — pure md5 + integer arithmetic, the portable-hash contract
    both engines honor exactly (same construction as the partition-key
    router). Shared by the sampling gate and the packing shard key.

    One conv(hex, 16, 10) over the 3-char prefix — the md5 subtree
    appears once in the expression instead of once per nibble (filters
    get no subexpression elimination, so the nibble-arithmetic form
    tripled the hash work in every sampling gate)."""
    md5 = F.md5(id_col.cast("string"))
    return F.conv(F.substring(md5, 1, 3), 16, 10).cast("bigint")


def sample_gate(id_col: Column, rate_permille: Column) -> Column:
    """Deterministic keep-gate: keep when portable_nibble_hash % 1000 <
    rate‰ — reproducible across engines and runs, no RNG state."""
    return (portable_nibble_hash(id_col) % 1000) < rate_permille


def stratified_sample(
    docs: DataFrame,
    rates: DataFrame,
    strat_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic sampling: ``rates`` is a catalog-sized
    (stratum, rate_permille) dim — broadcast joined, then the hash gate
    prunes rows map-side. Strata absent from ``rates`` default to keep
    (rate 1000‰), so a mixture spec only lists what it downweights."""
    r = rates.select(
        F.col(strat_col), F.col("rate_permille").cast("bigint").alias("_rate")
    )
    return (
        docs.join(F.broadcast(r), strat_col, "left")
        .filter(sample_gate(F.col(id_col), F.coalesce(F.col("_rate"), F.lit(1000))))
        .drop("_rate")
    )


def build_vocab(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary with document frequencies and stable ids:
    tokens ranked by (df desc, term asc) — the deterministic ordering a
    tokenizer build needs — keeping terms seen in >= min_df documents.

    One explode + two aggregations (distinct (doc, term), then per-term
    df); token ids come from ``distributed_row_number`` (range partition +
    per-partition rank + driver-side offsets), NOT a global unpartitioned
    window — a 100 TB web corpus has 10^7-10^8 distinct terms, far too
    many to funnel through one task's sort (`Exchange SinglePartition`).
    """
    from milvus_cdc_spark.operators.windows import distributed_row_number

    toks = docs.select(
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
            )
        ).alias("term")
    )
    dfreq = toks.groupBy("term").agg(F.count("*").alias("df")).filter(
        F.col("df") >= min_df
    )
    ranked = distributed_row_number(
        dfreq,
        [F.col("df").desc(), F.col("term").asc()],
        rank_col="_vrank",
    )
    return ranked.select(
        (F.col("_vrank") - 1).alias("token_id"), "term", "df"
    )


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 128,
    n_shards: int = 16,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy contiguous sequence packing (training-efficiency packing):
    walk chunks in (doc, chunk) order, assign pack_id = floor(running
    token count before this chunk / seq_len) — each pack holds whole
    chunks and may overflow by at most one chunk (the standard
    contiguous-greedy approximation; no chunk is split).

    Scale design: the running-sum window partitions by a deterministic
    md5-derived shard of the document id (``portable_nibble_hash %
    n_shards``), so NO single task ever sorts the whole corpus — each
    shard packs its documents independently and pack ids are local to a
    shard; ``(shard_id, pack_id)`` identifies a pack globally. Per-shard
    packing is exactly as valid for training as a global walk (packs
    never span documents' shard boundaries by construction), and the
    portable shard key means an external oracle sharding the same way
    reproduces the output bit-for-bit. At 100 TB, raise ``n_shards`` to
    O(cluster cores); each window task sorts ~1/n_shards of the chunks.
    ``n_shards=1`` degenerates to the single global walk.
    """
    from pyspark.sql import Window

    shard = (portable_nibble_hash(F.col(id_col)) % n_shards).cast("int")
    w = (
        Window.partitionBy("shard_id")
        .orderBy(F.col(id_col), F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    packed = chunks.withColumn("shard_id", shard).withColumn(
        "pack_id", F.floor(before / F.lit(seq_len)).cast("int")
    )
    return (
        packed.groupBy("shard_id", "pack_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(tokens_col).alias("pack_tokens"),
        )
        .orderBy("shard_id", "pack_id")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-set decontamination by n-gram overlap (the GPT-3 appendix
    / Dodge et al. C4 audit procedure): a training document is
    contaminated if it shares any word n-gram with the held-out
    evaluation corpus. Real pipelines use 8-13 grams; the fixture corpus
    draws from a tiny vocabulary, so callers pick ``n`` to match their
    data's collision floor.

    Plan: distinct (doc, shingle) rows on the train side, distinct
    shingles on the eval side, one equi-join on the shingle string, one
    count per doc. Eval benchmark sets are tiny next to a 100 TB train
    corpus — Catalyst broadcasts the eval side automatically under the
    threshold; the train side never shuffles anything wider than
    (doc_id, shingle).

    Returns (id, n_hits) for contaminated docs only — n_hits counts the
    DISTINCT overlapping n-grams of that doc.
    """
    from milvus_cdc_spark.analytics.dedup import shingle_rows

    tr = shingle_rows(train, id_col, text_col, n).distinct()
    ev = shingle_rows(eval_df, id_col, text_col, n).select("s").distinct()
    return tr.join(ev, "s").groupBy(id_col).agg(F.count("*").alias("n_hits"))


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition statistics — the signal behind the
    Gopher/MassiveText repetition filters (Rae et al. 2021, table A1):
    heavily repeated n-grams mark boilerplate and spam.

    Two-level aggregate: (doc, shingle) counts first, then per-doc
    sum/count/max — both stages partial-aggregate map-side, so the only
    corpus-wide shuffles carry compact count rows.

    Returns (id, total, n_distinct, top): total n-grams, distinct
    n-grams, and the count of the single most frequent n-gram.
    """
    from milvus_cdc_spark.analytics.dedup import shingle_rows

    sh = shingle_rows(df, id_col, text_col, n)
    per = sh.groupBy(id_col, "s").agg(F.count("*").alias("c"))
    return per.groupBy(id_col).agg(
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top"),
    )


def temperature_weights(
    docs: DataFrame,
    alpha: float = 0.7,
    budget_frac: float = 0.5,
    strat_col: str = "source",
) -> DataFrame:
    """Temperature-based multinomial mixture weights (the XLM/mT5
    sampling rule, Conneau & Lample 2019 §3.1): source s draws with
    p_s = n_s^alpha / sum_t n_t^alpha — alpha < 1 upweights small
    sources, alpha = 1 is proportional, alpha = 0 uniform. Converts the
    target budget (``budget_frac`` of the corpus) into the per-source
    ``rate_permille`` dim that ``stratified_sample`` consumes, capped
    at 1000 (a source cannot yield more docs than it has).

    Plan: one map-side-combined count per source, a 1-row total, a
    broadcast of that scalar onto the catalog-sized source dim — the
    corpus is scanned once, everything after is driver-sized.

    Returns (source, n_docs, p_s rounded to 6, rate_permille).
    """
    counts = docs.groupBy(strat_col).agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum(F.pow("n_docs", F.lit(alpha))).alias("_z"),
        F.sum("n_docs").alias("_n_total"),
    )
    p = F.pow("n_docs", F.lit(alpha)) / F.col("_z")
    rate = F.least(
        F.lit(1000.0),
        F.round(F.lit(1000.0 * budget_frac) * F.col("_n_total") * p / F.col("n_docs"), 0),
    ).cast("bigint")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            strat_col,
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(p, 6).alias("p_s"),
            rate.alias("rate_permille"),
        )
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Language-model quality scoring, unigram edition — the shape of
    the CCNet perplexity filter (Wenzek et al. 2020): fit token
    frequencies on the corpus, score each document by its average
    negative log-likelihood in nats (lower = more typical text; spam
    and boilerplate sit in the tails). A real pipeline swaps the
    unigram table for KenLM scores; the Spark plan is identical — a
    per-token probability lookup join plus one per-doc aggregate.

    Plan: one token explode (corpus scan), one map-side-combined term
    count, a 1-row total broadcast, one probability-lookup equi-join on
    the token (Catalyst broadcasts the frequency table when the vocab
    fits, shuffles both sides keyed by token when it doesn't), one
    per-doc avg. No driver-side state at any corpus size.

    Returns (id, n_toks, avg_nll rounded to 6).
    """
    from milvus_cdc_spark.functions import text as textf

    toks = docs.select(
        F.col(id_col),
        F.explode(textf.tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    tot = freq.agg(F.sum("tf").alias("_t"))
    scored = toks.join(freq, "tok").crossJoin(F.broadcast(tot))
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.round(F.avg(-F.log(F.col("tf") / F.col("_t"))), 6).alias("avg_nll"),
        )
    )


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al., arXiv:2302.03169: Data
    Selection for Language Models via Importance Resampling): score each
    document by how much more likely its hashed n-gram features are
    under a TARGET domain's distribution than under the raw corpus's.

    Features are unigrams plus word bigrams, hashed into ``n_buckets``
    md5 buckets (the paper's hashed n-gram generative model; md5 keeps
    the bucketing engine-portable). Both bucket distributions get
    Laplace smoothing: p[b] = (count[b] + 1) / (total + n_buckets).
    A document's importance weight is sum over its features of
    log(p_target[bucket] / p_raw[bucket]) — accumulated in integer
    micro-nats (per-bucket log-ratio -> floor(x*1e6 + 0.5) BIGINT, then
    an exact integer sum) so float summation order can never drift
    across engines.

    Plan: one token explode + lead() bigram window (both reusing the
    id-keyed partitioning), one n_buckets-sized count aggregate with
    map-side partial, a broadcast of the bucket dim (n_buckets rows)
    back onto the feature stream, one per-doc sum. The bucket table is
    fixed-size regardless of corpus size — at 100 TB nothing but the
    two corpus-keyed shuffles grows.

    Returns one row per doc: (id, is_target, n_feats, score_micro)
    where score_micro > 0 means "more target-like than raw".
    """
    from milvus_cdc_spark.functions import text as textf

    # unigrams + in-row zipped bigrams explode together — no per-token
    # window, no union of two exploded frames
    base = docs.select(
        F.col(id_col),
        target_pred.cast("boolean").alias("is_target"),
        textf.tokens(F.lower(F.col(text_col))).alias("_toks"),
    )
    arr = F.col("_toks")
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    bigr = F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = base.select(
        F.col(id_col),
        "is_target",
        F.explode(F.concat(arr, bigr)).alias("feat"),
    )
    # first two md5 nibbles as one conv — a single md5 per feature row.
    # The bucketed stream feeds BOTH the bucket-count aggregate and the
    # final per-doc scoring join; persist it (feat text projected away —
    # only the bucket survives) so the corpus explode + md5 runs once.
    md5 = F.md5(F.col("feat"))
    feats = cache(feats.select(
        F.col(id_col),
        "is_target",
        (F.conv(F.substring(md5, 1, 2), 16, 10).cast("bigint") % n_buckets)
        .alias("bucket"),
    ))
    counts = feats.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("bigint")).alias("tgt_n"),
        F.sum((~F.col("is_target")).cast("bigint")).alias("raw_n"),
    )
    tot = counts.agg(
        F.sum("tgt_n").alias("_tt"), F.sum("raw_n").alias("_rt")
    )
    lam = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("tgt_n") + 1) / (F.col("_tt") + n_buckets))
                - F.log((F.col("raw_n") + 1) / (F.col("_rt") + n_buckets))
            )
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("lam_micro"),
    )
    return (
        feats.join(F.broadcast(lam), "bucket")
        .groupBy(id_col, "is_target")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("lam_micro").cast("bigint").alias("score_micro"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated bigram-LM quality scoring — one rung up from
    ``unigram_logprob`` toward the CCNet/KenLM perplexity filter
    (Wenzek et al. 2020 fit a 5-gram KenLM; the plan shape is the same
    at any order). Fit bigram and unigram tables on the corpus, then
    score each document's average negative log-likelihood over its
    bigram transitions with the fixed-weight interpolation

        p(cur | prev) = (4 * p_bigram + 1 * p_unigram) / 5

    (integer 4/1/5 weights, NOT a 0.8 float literal: 1 - 0.8 is
    0.19999999999999996 in binary, and two engines spelling the blend
    differently would drift at the last ulp).

    Cross-engine exactness: the NLL of each distinct (prev, cur) TYPE
    is one deterministic double -> floor(nll * 1e6 + 0.5) BIGINT in the
    bigram dim; per-document scores are exact integer sums of those
    micro-nats, so aggregation order cannot drift.

    Plan: one token explode + lead() pairing (id-keyed partitioning
    reused), two vocabulary-keyed count aggregates (map-side partial),
    the probability dim joined back on (prev, cur) — Catalyst broadcasts
    it when the vocabulary fits, hash-shuffles both sides otherwise —
    and one per-doc sum. No driver state at any corpus size.

    Returns (id, n_bigrams, nll_micro_sum) for docs with >= 1 bigram.
    """
    from milvus_cdc_spark.functions import text as textf

    # the tokenize projection heads the unigram arm, the bigram-count
    # arm, AND the final per-doc scoring pass — persist it once
    base = cache(docs.select(
        F.col(id_col), textf.tokens(F.lower(F.col(text_col))).alias("_toks")
    ))
    arr = F.col("_toks")
    toks = base.select(F.col(id_col), F.explode(arr).alias("tok"))
    # bigrams zip in-row from the token array's shifted tails — no
    # per-token window sort before the pair-count shuffle
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
    )
    big = base.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        F.col(id_col), F.col("_p.prev").alias("prev"), F.col("_p.cur").alias("cur")
    )
    # vocab-sized, but its lineage embeds the bigram explode; it feeds
    # both the context totals and the probability dim
    c2 = cache(big.groupBy("prev", "cur").agg(F.count("*").alias("n2")))
    ctx = c2.groupBy("prev").agg(F.sum("n2").alias("nctx"))
    c1 = toks.groupBy("tok").agg(F.count("*").alias("n1"))
    tot = c1.agg(F.sum("n1").alias("_t"))
    dim = (
        c2.join(ctx, "prev")
        .join(c1.withColumnRenamed("tok", "cur"), "cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "cur",
            F.floor(
                -F.log(
                    (
                        4 * (F.col("n2") / F.col("nctx"))
                        + F.col("n1") / F.col("_t")
                    )
                    / 5
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    return (
        big.join(dim, ["prev", "cur"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("nll_micro").cast("bigint").alias("nll_micro_sum"),
        )
    )


def _bpe_word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(word, freq, sym) — the BPE working state: corpus word counts with
    each word as space-separated character symbols + an end-of-word
    marker. The ONLY corpus-sized pass in the BPE family; everything
    after runs over the distinct-word table."""
    from milvus_cdc_spark.functions import text as textf

    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return (
        docs.select(F.explode(textf.tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(F.concat_ws(" ", chars), F.lit(" </w>")).alias("sym"),
        )
    )


def _bpe_pair_rows(words: DataFrame) -> DataFrame:
    """(freq, s, nxt) — one row per adjacent symbol pair, straight from
    the symbol array by zipping it with its own tail. No window, no
    per-word shuffle: the pair stream inherits the word table's
    partitioning and feeds the pair-count aggregate map-side."""
    arr = F.split("sym", " ")
    pairs = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("s"), b.alias("nxt")),
    )
    return words.select("freq", F.explode(pairs).alias("pr")).select(
        "freq", F.col("pr.s").alias("s"), F.col("pr.nxt").alias("nxt")
    )


def _bpe_merge_sym(sym, x: str, y: str):
    """One greedy left-to-right merge of the adjacent pair (x, y) inside
    a symbol string — a pure per-row array fold, NO shuffle.

    The fold appends each symbol unless the accumulator's last element
    is x and the incoming symbol is y, in which case the pair collapses
    to x+y. That is exactly one-pass greedy semantics: a run like
    "a a a a" under (a, a) becomes "aa aa", because the freshly merged
    "aa" can never re-match as the LEFT of the same rule (x+y is
    strictly longer than x). Naive string replace gets runs wrong
    (consecutive matches share their delimiter); the previous
    gaps-and-islands implementation got them right at the cost of two
    self-joins and three windows PER MERGE over the exploded symbol
    table."""
    merged = F.lit(x + y)
    return F.concat_ws(
        " ",
        F.aggregate(
            F.split(sym, " "),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(x))
                & (s == F.lit(y)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        ),
    )


def _bpe_apply_merge(words: DataFrame, x: str, y: str) -> DataFrame:
    """Apply one merge rule to the (word, freq, sym) table — a single
    projection (see _bpe_merge_sym)."""
    return words.select(
        "word", "freq", _bpe_merge_sym(F.col("sym"), x, y).alias("sym")
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    merge_budget: int = 256,
) -> list[tuple[int, str, str, int]]:
    """BPE merge-rule training (Sennrich et al., ACL 2016) as an
    iterative DataFrame computation: start from character symbols plus
    an end-of-word marker, and ``n_merges`` times (a) count adjacent
    symbol pairs weighted by word frequency, (b) pick the most frequent
    pair (ties -> lexicographically smallest), (c) merge its
    occurrences greedily left-to-right (``_bpe_apply_merge``).

    Scale: after the initial word-count aggregation (the only
    corpus-sized pass) every iteration runs over the DISTINCT-WORD
    table — vocabulary-sized, not corpus-sized — with ONE pair-count
    aggregate per merge (the pair stream zips the symbol array with its
    own tail, map-side, no window) and a shuffle-free per-row fold for
    the rebuild (_bpe_merge_sym). The only driver traffic is the single
    argmax row per iteration. State is persisted per step and the
    previous step unpersisted, so lineage stays flat.

    Practical merge-count CEILING: greedy BPE is inherently sequential
    in its argmax, so each merge costs ~5 blocking Spark jobs (the AQE
    stages behind the 1-row pair-count argmax plus the rebuild
    materialization; measured on local[32] at sf0.01, ~0.6 s/merge).
    That is fine for suite-scale rule tables (tens of merges) and
    unacceptable for a production 32k-merge vocabulary (~160k driver
    round-trips — hours of pure scheduling even with a tiny vocab
    table). ``merge_budget`` (default 256) guards the boundary:
    requesting more raises ValueError rather than silently launching a
    driver-iteration storm. A real 32k-merge trainer wants a
    specialized single-node pass over the (vocabulary-sized) word
    table, not this loop — raise the budget explicitly only if you
    understand the jobs/merge cost.

    Returns the learned merge table [(merge_idx, left, right, count)];
    ``bpe_apply`` encodes a corpus with it.
    """
    if n_merges > merge_budget:
        raise ValueError(
            f"bpe_train: n_merges={n_merges} exceeds merge_budget="
            f"{merge_budget}; each merge is ~5 blocking Spark jobs "
            f"(driver-sequential argmax). Raise merge_budget explicitly "
            f"if this cost is understood."
        )
    words = _bpe_word_table(docs, text_col).persist()
    merges: list[tuple[int, str, str, int]] = []
    try:
        for k in range(n_merges):
            top = (
                _bpe_pair_rows(words)
                .groupBy("s", "nxt")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "s", "nxt")
                .limit(1)
                .collect()
            )
            if not top:
                break
            x, y, cnt = top[0].s, top[0].nxt, int(top[0].cnt)
            merges.append((k, x, y, cnt))
            nxt_words = _bpe_apply_merge(words, x, y).persist()
            nxt_words.count()  # materialize before dropping the parent
            words.unpersist()
            words = nxt_words
    finally:
        words.unpersist()
    return merges


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus vocabulary with an already-learned merge list:
    apply each (left, right) rule in training order, greedy
    left-to-right — the production tokenization step (train once,
    encode everywhere), and unlike training it needs NO driver traffic
    at all: the rules are literals baked into the plan, so the whole
    encode is one lazy DataFrame chain over the vocabulary table.

    Returns (word, freq, sym) with ``sym`` the final space-separated
    symbol segmentation of each word.
    """
    words = _bpe_word_table(docs, text_col)
    for x, y in merges:
        words = _bpe_apply_merge(words, x, y)
    return words


def pseudo_lines(
    docs: DataFrame,
    width: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-width pseudo-lines for an unpunctuated corpus: consecutive
    ``width``-token windows (the last one ragged). The C4 pipeline
    (Raffel et al. 2020, §2.2) deduplicates at LINE granularity; the
    fixture corpus carries no newlines, so fixed-width token windows
    stand in for lines — the Spark plan is identical either way (swap
    this splitter for ``split(text, '\\n')``).

    Pure column algebra — tokenize, slice, posexplode — so the line
    stream inherits the scan's partitioning; no shuffle happens before
    the caller's aggregate.

    Returns (id, line_id, line_text).
    """
    from milvus_cdc_spark.functions import text as textf

    arr = textf.tokens(F.lower(F.col(text_col)))
    n_lines = F.ceil(F.size(arr) / F.lit(width)).cast("int")
    # Spark's sequence(0, -1) yields a DESCENDING [0, -1] rather than an
    # empty array — guard the zero-token case explicitly.
    lines = F.when(
        F.size(arr) > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.concat_ws(" ", F.slice(arr, i * width + 1, width)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col),
        F.posexplode(lines).alias("line_id", "line_text"),
    )


def line_level_dedup(
    docs: DataFrame,
    width: int = 10,
    max_occurrences: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide line-level exact deduplication accounting — the C4
    "discard any line occurring more than once in the corpus" step
    (Raffel et al. 2020 §2.2; also the MassiveText line-dedup filter),
    over :func:`pseudo_lines` windows.

    A line survives iff its corpus-wide occurrence count is at most
    ``max_occurrences``. Counting keys on a 16-hex-digit md5 prefix of
    the line rather than the line text itself, so the corpus-wide
    count shuffle carries 16-byte keys instead of arbitrary-length
    strings — at 100 TB that is the difference between shuffling the
    corpus twice and shuffling a fingerprint table (collision odds at
    64 bits are negligible, and the hash is engine-portable so the
    DuckDB oracle reproduces it bit-for-bit).

    Plan: one token-window explode (no pre-shuffle), one count
    aggregate keyed by the line hash (map-side partial), one equi-join
    of the (doc, hash) stream back onto the count table, one per-doc
    aggregate. Two shuffles total, both on compact keys.

    Returns per-doc (id, n_lines, n_kept, kept_ppm) where kept_ppm is
    the integer parts-per-million of lines surviving the filter.
    """
    lines = pseudo_lines(docs, width, id_col, text_col)
    keyed = lines.select(
        F.col(id_col), F.substring(F.md5(F.col("line_text")), 1, 16).alias("k")
    )
    counts = keyed.groupBy("k").agg(F.count("*").alias("cnt"))
    kept_flag = (F.col("cnt") <= max_occurrences).cast("int")
    return (
        keyed.join(counts, "k")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(kept_flag).cast("bigint").alias("n_kept"),
        )
        .withColumn(
            "kept_ppm", F.expr("n_kept * 1000000 DIV n_lines").cast("bigint")
        )
    )


def boilerplate_lines(
    docs: DataFrame,
    width: int = 10,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source boilerplate-line accounting — the CCNet/trafilatura
    "a line repeated across many pages of the same site is chrome, not
    content" heuristic (Wenzek et al. 2020 §3.1 dedups paragraphs
    site-wise for exactly this reason), over :func:`pseudo_lines`
    windows.

    A line is boilerplate WITHIN its group (source/host) when it occurs
    in at least ``min_docs`` DISTINCT documents of that group — distinct
    docs, not raw occurrences, so one page repeating its own nav bar
    ten times doesn't self-promote to boilerplate.

    Scale shape mirrors :func:`line_level_dedup`: the explode inherits
    the scan partitioning; the occurrence aggregate keys on
    (group, 64-bit md5 prefix) — compact fingerprints, never the line
    text; one join back onto the fingerprint stream; one per-group
    rollup (group cardinality ~ hosts, small). Two shuffles on compact
    keys plus one tiny rollup.

    Returns per-group (group, n_lines, n_boiler, boiler_ppm,
    distinct_boiler_lines) ordered by nothing (caller sorts).
    """
    lines = pseudo_lines(docs, width, id_col, text_col).join(
        docs.select(F.col(id_col), F.col(group_col).alias("grp")), id_col
    )
    keyed = lines.select(
        F.col(id_col),
        F.col("grp"),
        F.substring(F.md5(F.col("line_text")), 1, 16).alias("k"),
    )
    occ = keyed.groupBy("grp", "k").agg(
        F.countDistinct(F.col(id_col)).alias("ndocs")
    )
    boiler = (F.col("ndocs") >= min_docs).cast("int")
    return (
        keyed.join(occ, ["grp", "k"])
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(boiler).cast("bigint").alias("n_boiler"),
            F.countDistinct(F.when(boiler == 1, F.col("k"))).cast(
                "bigint"
            ).alias("distinct_boiler_lines"),
        )
        .withColumn(
            "boiler_ppm",
            F.expr("n_boiler * 1000000 DIV n_lines").cast("bigint"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_lines",
            "n_boiler",
            "boiler_ppm",
            "distinct_boiler_lines",
        )
    )


def domain_mixture_weights(
    docs: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DoReMi-flavored domain reweighting (Xie et al. 2023,
    arXiv:2305.10429): upweight domains whose text the current model
    finds HARD. The proxy model here is the corpus unigram LM (the same
    table :func:`unigram_logprob` fits); a domain's difficulty is its
    average per-token negative log-likelihood, its excess is how far it
    sits above the corpus-wide average, and the published algorithm's
    softmax-of-excess-loss update is simplified to a LINEAR share of
    total positive excess — which keeps every quantity in exact integer
    micro-nats, so two engines can never drift a weight.

    Plan: one token explode, one vocabulary-sized term-frequency
    aggregate joined back token-keyed (Catalyst broadcasts it when it
    fits), one per-domain aggregate (domain cardinality ~ tens), and a
    1-row broadcast of the corpus totals. Nothing driver-side grows
    with the corpus.

    Returns per-domain (domain, n_docs, n_toks, avg_nll_micro,
    excess_micro, weight_ppm); weight_ppm sums to <= 1e6 (floor
    division) and is 0 for at-or-below-average domains.
    """
    from milvus_cdc_spark.functions import text as textf

    toks = docs.select(
        F.col(domain_col).alias("domain"),
        F.col(id_col),
        F.explode(textf.tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    tot = freq.agg(F.sum("tf").alias("_t"))
    # per-token NLL in integer micro-nats: floor(-ln(tf/total)*1e6 + 0.5)
    # per row (identical IEEE double math in both engines), then exact
    # integer sums — the dsir_weights portability contract.
    nll_micro = F.floor(-F.log(F.col("tf") / F.col("_t")) * 1e6 + F.lit(0.5))
    # domain-cardinality rows, but the lineage embeds the corpus-wide
    # token explode + frequency join — and FOUR downstream consumers
    # (corpus avg, excess, excess total, output) would each re-run it.
    # An eager localCheckpoint truncates the plan with one tiny job.
    # SIDE EFFECT (ADVICE r7): building this frame therefore RUNS Spark
    # jobs during construction, and localCheckpoint blocks are
    # non-reliable — executor loss makes the result unrecoverable
    # (recompute by re-calling) instead of lineage-recomputable. The
    # frame is domain-cardinality (tiny), so the trade is deliberate;
    # on a long-running cluster where recoverability matters, swap for
    # persist() + count().
    per_dom = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("domain")
        .agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum(nll_micro).cast("bigint").alias("_nll_sum"),
        )
        .withColumn(
            "avg_nll_micro", F.expr("_nll_sum DIV n_toks").cast("bigint")
        )
        .localCheckpoint(eager=True)
    )
    corpus = per_dom.agg(
        F.expr("sum(_nll_sum) DIV sum(n_toks)").cast("bigint").alias("_corpus_avg")
    )
    ex = per_dom.crossJoin(F.broadcast(corpus)).withColumn(
        "excess_micro",
        F.greatest(F.col("avg_nll_micro") - F.col("_corpus_avg"), F.lit(0))
        .cast("bigint"),
    )
    tot_ex = ex.agg(F.sum("excess_micro").alias("_ex_sum"))
    return (
        ex.crossJoin(F.broadcast(tot_ex))
        .withColumn(
            "weight_ppm",
            F.when(
                F.col("_ex_sum") > 0,
                F.expr("excess_micro * 1000000 DIV _ex_sum"),
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
        )
        .select(
            "domain",
            "n_docs",
            "n_toks",
            "avg_nll_micro",
            "excess_micro",
            "weight_ppm",
        )
    )


#: Stand-in blocklist over the fixture vocabulary — production swaps in
#: the real C4 "List of Dirty, Naughty, Obscene or Otherwise Bad Words".
#: Mixed frequencies on purpose (one common, one mid, one rare token) so
#: the per-source funnel is discriminative at every test scale.
C4_BLOCKLIST: tuple[str, ...] = ("slow", "dup", "big")


def blocklist_stats(
    docs: DataFrame,
    blocklist: tuple[str, ...] = C4_BLOCKLIST,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """C4 badwords-gate accounting (Raffel et al. 2020 §2.2: "discarded
    any page that contained any word on the blocklist") — the one named
    C4 stage the quality_filter_funnel composite does not carry.

    Per ``group_col``: document count, documents flagged (>= 1 blocklist
    token), total blocklist-token occurrences (multiplicity — the
    severity signal a soft-threshold variant gates on), and the kept
    share in integer ppm. Everything is a column expression over ONE
    scan: whitespace tokens (lower/trim, empties dropped — the suite's
    shared token law) filtered against a literal lexicon, so the hot
    path is whole-stage-codegen JVM work with a map-side partial
    aggregate; no UDF, no extra shuffle beyond the group-by. At 100 TB
    the blocklist is a literal in the plan (kilobytes), never a join
    side.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda t: t != "",
    )
    n_hits = F.size(F.filter(toks, lambda t: t.isin(*blocklist)))
    per_doc = docs.select(F.col(group_col), n_hits.alias("_n_hits"))
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("_n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("_n_hits").cast("bigint").alias("total_hits"),
        )
        .withColumn(
            "kept_ppm",
            F.expr("(n_docs - n_flagged) * 1000000 DIV n_docs").cast("bigint"),
        )
        .orderBy(group_col)
    )
