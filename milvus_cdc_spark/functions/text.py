"""Text-analysis functions for the LLM-data-pipeline surface.

All built-in column expressions (split / regexp / aggregate higher-order
functions) so they run JVM-side inside codegen over 100 TB of documents —
no Python in the hot path. Each function is mirrored by an ANSI-SQL oracle
in the suite.

- tokenization + token counting (whitespace + word-regex)
- quality scoring: length / punctuation ratio / stopword ratio
- language ID: stopword-hit heuristic over small per-language lexicons
- fingerprinting: md5 of normalized text (portable across engines)
- shingling: n-gram sets for Jaccard / MinHash dedup
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lexicons for the heuristic language ID.
#: (Real pipelines use fastText et al.; the container has no model assets, so
#: the heuristic is the deterministic, testable stand-in.)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("的", "是", "了", "在", "和"),
}


#: Lucene's classic English stop set (the default list Milvus's built-in
#: ``english`` analyzer filters; analyzer_params stop_words "_english_").
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)


def _porter_1a(t: Column) -> Column:
    """Porter stemmer step 1a (plural folding): sses→ss, ies→i, ss→ss,
    s→∅ — the plural-collapse slice of the stemmer, exact and
    column-expressible. (The full Porter pipeline the reference's
    ``english`` analyzer applies is NOT reproduced; see ``analyze``.)"""
    return (
        F.when(t.endswith("sses"), F.substring(t, 1, F.length(t) - 2))
        .when(t.endswith("ies"), F.substring(t, 1, F.length(t) - 2))
        .when(t.endswith("ss"), t)
        .when(t.endswith("s") & (F.length(t) > 1), F.substring(t, 1, F.length(t) - 1))
        .otherwise(t)
    )


def analyze(
    text: Column,
    analyzer: str = "standard",
    stop_words: tuple[str, ...] | None = None,
) -> Column:
    """Milvus analyzer surface (analyzer_params for VARCHAR fields with
    enable_analyzer, milvus.io Analyzer docs; the tokenizer feeding
    text_match / BM25 full-text search):

    - ``standard``: lowercase + alnum-run segmentation — the engine's
      shared match analyzer (``word_tokens``). Divergence: Milvus uses
      Unicode word segmentation; identical on ASCII corpora.
    - ``whitespace``: split on whitespace, NO lowercase/filters (the
      bare whitespace tokenizer).
    - ``english``: standard + Lucene classic stop-set removal + Porter
      step-1a plural folding. Divergence (documented, deliberate): the
      reference applies the FULL Porter stemmer; step 1a covers the
      plural collapse exactly and keeps the expression JVM-side —
      deeper suffix rules (-ational, -iveness, ...) are not applied.

    ``stop_words`` overrides the stop list (analyzer_params
    ``filter: [{type: stop, stop_words: [...]}]``); applied for any
    analyzer when given.
    """
    if analyzer == "standard":
        out = word_tokens(text)
    elif analyzer == "whitespace":
        out = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    elif analyzer == "english":
        out = F.transform(
            F.filter(
                word_tokens(text),
                lambda t: ~t.isin(*ENGLISH_STOPWORDS),
            ),
            _porter_1a,
        )
    else:
        raise ValueError(f"unknown analyzer: {analyzer!r}")
    if stop_words:
        out = F.filter(out, lambda t: ~t.isin(*stop_words))
    return out


def analyze_terms(
    terms: list[str],
    analyzer: str = "standard",
    stop_words: tuple[str, ...] | None = None,
) -> list[str]:
    """Driver-side mirror of :func:`analyze` for QUERY terms — Milvus
    analyzes the query text with the field's analyzer, so a match
    surface must run both sides through the same rules (control-sized:
    a handful of query words, never data)."""
    import re

    def p1a(t: str) -> str:
        if t.endswith("sses") or t.endswith("ies"):
            return t[:-2]
        if t.endswith("ss"):
            return t
        if t.endswith("s") and len(t) > 1:
            return t[:-1]
        return t

    out: list[str] = []
    for s in terms:
        if analyzer == "standard":
            toks = [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]
        elif analyzer == "whitespace":
            toks = [t for t in re.split(r"\s+", s) if t]
        elif analyzer == "english":
            toks = [
                p1a(t)
                for t in re.split(r"[^a-z0-9]+", s.lower())
                if t and t not in ENGLISH_STOPWORDS
            ]
        else:
            raise ValueError(f"unknown analyzer: {analyzer!r}")
        out.extend(toks)
    if stop_words:
        out = [t for t in out if t not in stop_words]
    return out


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty strings removed."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def word_tokens(text: Column) -> Column:
    """Alnum-run analyzer (lowered, empties dropped): split on
    ``[^a-z0-9]+``. The ONE analyzer shared by the match surface — the
    posting-list builders (analytics.textrank) and the expr-compiler
    ``text_match``/``phrase_match`` predicates — so a filter expression
    and an index lookup agree on every document."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_token_count(text: Column) -> Column:
    """BPE-ish: count word-character runs (letters/digits), ignoring punctuation."""
    return F.size(F.filter(F.split(text, r"[^\w]+"), lambda t: t != ""))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not word chars or spaces."""
    stripped = F.regexp_replace(text, r"[\w\s]", "")
    return F.length(stripped) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = LANG_STOPWORDS["en"]) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def lang_hits(text: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    sw = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(*sw)))


def detect_lang(text: Column) -> Column:
    """argmax over per-language stopword hit counts; 'und' if no hits.

    Built as a chain of greatest/when expressions — fully JVM-side.
    Tie-break: language order en, es, fr, de, zh (first wins).
    """
    langs = list(LANG_STOPWORDS)
    hit_cols = [lang_hits(text, lang) for lang in langs]
    best = F.greatest(*hit_cols)
    expr = F.lit("und")
    for lang, hits in zip(reversed(langs), reversed(hit_cols)):
        expr = F.when((hits == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of lowercase, whitespace-normalized text.
    md5 hex is identical across engines → oracle-checkable."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingle *set* (distinct, sorted) for Jaccard/MinHash.

    Uses transform over a token-index sequence — built-in higher-order
    functions, no UDF.
    """
    toks = tokens(F.lower(text))
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    empty = F.array().cast("array<string>")
    return F.array_sort(F.array_distinct(F.when(k > 0, grams).otherwise(empty)))


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipeline hygiene). Patterns are kept to
# the RE2-compatible subset (no backreferences, no lookaround) so the
# DuckDB oracle evaluates the IDENTICAL regex strings: Java's regex
# engine and RE2 agree on these.
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+\d[\d ]{7,}\d"


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and +international phone-number
    runs with typed placeholders. Pure column expression (three chained
    regexp_replace calls, whole-stage codegen) — order is email → ip →
    phone; the patterns are mutually non-overlapping on the placeholder
    tokens they introduce."""
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def pii_counts(text: Column) -> Column:
    """struct(n_emails, n_ips, n_phones) occurrence counts on the raw
    text (counted independently, before any redaction)."""
    return F.struct(
        F.regexp_count(text, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(text, F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count(text, F.lit(PII_PHONE)).alias("n_phones"),
    )


#: GPT-2-style byte-pair pre-tokenizer pattern (Radford et al. 2019,
#: the regex every BPE tokenizer runs before merges), restricted to the
#: lookahead-free ASCII subset so Java regex and RE2 (DuckDB) agree:
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, residual whitespace.
BPE_PRETOKEN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+|\s+"


def bpe_pretoken_count(text: Column) -> Column:
    """Number of BPE pre-tokens in ``text`` (lowered) — the unit LLM
    token budgets are denominated in before merges; a closer proxy for
    real tokenizer counts than whitespace words (contractions and
    punctuation split off). Pure regexp_count — codegen, no UDF."""
    return F.regexp_count(F.lower(text), F.lit(BPE_PRETOKEN))
