"""Text analysis operators for the documents table (SURVEY.md §2.10 X4).

All pure built-in expressions (whole-stage codegen, zero shuffles except
where an aggregation is the point). Each has an exact DuckDB twin in
`queries_text.py` — the heuristics are deterministic algorithms, so the
oracle replicates the algorithm, not an external model.

- token/char statistics, quality scoring (length, punctuation ratio,
  stopword ratio, mean token length),
- language ID: character-frequency n-gram heuristic (vowel/consonant and
  bigram scoring against per-language profiles) — a stand-in for a real
  fastText-style model, implemented the way the reference implements
  normalization: a fixed closed-form over the row,
- document fingerprinting: md5 over the sorted distinct token set (the
  "bag of words" canonical form), plus a 60-bit rolling polynomial hash
  over the token sequence (order-sensitive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import md5_int
from whisper_pandas_spark.functions.text import tokenize

# Tiny stopword lexicon, shared verbatim with the DuckDB oracle.
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]

# Default corpus-gate thresholds (shared by queries_text / queries_pipeline;
# they live here, registry-free, so oracle builders of both can import them).
GATE_MIN_QUALITY = 0.6
GATE_MAX_DUP = 0.3

# (language, profile-bigrams) — deterministic n-gram heuristic profiles.
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["th", "he", "in", "er", "an"]),
    ("fr", ["es", "le", "de", "en", "re"]),
    ("es", ["de", "la", "os", "el", "en"]),
    ("de", ["en", "er", "ch", "de", "ei"]),
    ("zh", ["zh", "ng", "sh", "ia", "uo"]),
]


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc token/char statistics."""
    toks = tokenize(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
            )
            / F.size(toks),
            6,
        ).alias("mean_token_len"),
    )


#: GPT-2-style pre-tokenizer, simplified to the regex subset Java
#: (Spark) and RE2 (DuckDB) execute identically: no lookaround, no
#: backreferences, ASCII classes only. Contraction suffixes, then
#: space-prefixed letter runs, digit runs, and symbol runs — the match
#: COUNT approximates a BPE tokenizer's sequence length well enough for
#: token budgeting (the real tokenizer only splits these further).
BPE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s']+"


def bpe_token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, n_bpe): BPE-ish pre-token count per document — the
    token-budget estimator (whitespace counts undershoot code/punctuated
    text badly). Pure codegen regex, zero shuffle. NULL texts are
    dropped (no token budget to estimate)."""
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_REGEX), F.lit(0))
        ).cast("long").alias("n_bpe"),
    )


def _quality_exprs(text_col: str) -> tuple[Column, Column, Column]:
    """(punct_ratio, stop_ratio, quality) — shared by the scorer and the
    gate filter so both compute byte-identical values."""
    toks = tokenize(text_col)
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, "[a-zA-Z0-9 ]", ""))
    punct_ratio = punct.cast("double") / n_chars
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    )
    stop_ratio = stop_hits.cast("double") / F.size(toks)
    length_ok = F.when((n_chars >= 50) & (n_chars <= 5000), 1.0).otherwise(0.0)
    score = (
        0.4 * length_ok
        + 0.3 * (1.0 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.3 * F.least(stop_ratio * 10, F.lit(1.0))
    )
    return punct_ratio, stop_ratio, score


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite quality score in [0, 1]; the LLM-pipeline pre-filter.

    length_ok   : 1 if 50 <= n_chars <= 5000 (hard gates at both ends)
    punct_ratio : non-alnum-non-space chars / chars (lower is better)
    stop_ratio  : stopword tokens / tokens (a floor of real language)
    score       = 0.4*length_ok + 0.3*(1 - min(punct_ratio*5, 1))
                + 0.3*min(stop_ratio*10, 1)
    """
    punct_ratio, stop_ratio, score = _quality_exprs(text_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, n_shingles, n_distinct, dup_ratio): Gopher-style
    intra-document repetition — the fraction of repeated word n-grams
    (shingle MULTISET, not the dedup path's distinct set).
    Boilerplate/generated text repeats its own n-grams long before it
    duplicates another document, so this is the quality signal near-dup
    detection cannot provide. Docs with no full shingle are dropped.
    Pure projection, zero shuffle; counts come from the zip-based
    codegen form (functions/text.py word_shingle_stats — the lambda
    builder is interpreted and gets re-inlined per element when a
    filter collapses into the projection, the round-8 19 s→1.2 s fix)."""
    from whisper_pandas_spark.functions.text import word_shingle_stats

    total, distinct = word_shingle_stats(tokenize(text_col), shingle_n)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        total.alias("n_shingles"),
        distinct.alias("n_distinct"),
    ).filter(F.col("n_shingles") > 0)
    return out.withColumn(
        "dup_ratio",
        F.round(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_shingles"), 6
        ),
    )


def quality_gate_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float = GATE_MIN_QUALITY,
    max_dup_ratio: float = GATE_MAX_DUP,
    shingle_n: int = 3,
) -> DataFrame:
    """The corpus filter itself: keep rows passing BOTH the composite
    quality floor and the repetition ceiling. All gates are row-local
    expressions fused into ONE scan — zero shuffles, zero joins; at
    100 TB this is a free rider on whatever scan follows it. Comparisons
    use the same 6-dp rounded values the scorer emits, so the kept set
    is engine-portable. Repetition counts use the zip-based codegen
    shingle form (word_shingle_stats): the whole gate is ONE compiled
    filter even after Catalyst collapses it into the scan (the lambda
    form re-ran tokenize per array element there — 19 s→1.2 s at
    sf0.1)."""
    from whisper_pandas_spark.functions.text import word_shingle_stats

    _, _, score = _quality_exprs(text_col)
    total, distinct = word_shingle_stats(tokenize(text_col), shingle_n)
    dup = F.round(1.0 - distinct.cast("double") / total, 6)
    return df.filter(
        (F.round(score, 6) >= min_quality)
        & (total > 0)
        & (dup <= max_dup_ratio)
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-bigram language-ID heuristic.

    score(lang) = Σ_profile_bigrams count(bigram in lower(text));
    prediction = argmax with deterministic tie-break by profile order.
    (On synthetic word-soup data this is a fixed deterministic function —
    what matters here is the distributed pattern: per-row closed-form
    scoring, no shuffle, no UDF.)
    """
    low = F.lower(F.col(text_col))

    def score(bigrams: list[str]) -> Column:
        s = F.lit(0)
        for bg in bigrams:
            # occurrence count = (len - len(remove(bg))) / 2
            s = s + (
                F.length(low) - F.length(F.replace(low, F.lit(bg), F.lit("")))
            ) / 2
        return s.cast("int")

    scores = [(lang, score(bgs)) for lang, bgs in LANG_PROFILES]
    best = scores[0][1]
    for _, sc in scores[1:]:
        best = F.greatest(best, sc)
    pred = F.lit(None).cast("string")
    # first profile reaching the max wins (reverse fold keeps profile order)
    for lang, sc in reversed(scores):
        pred = F.when(sc == best, F.lit(lang)).otherwise(pred)
    return df.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("pred_lang"),
        best.alias("lang_score"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical bag-of-words fingerprint + order-sensitive rolling hash.

    bow_fp  : md5 of the sorted distinct token set — equal iff two docs
              have the same vocabulary (classic shingle-free near-dup key).
    roll_fp : polynomial rolling hash Σ tok_hash·31^pos mod 2^55 over the
              token SEQUENCE — order-sensitive, computed with one
              higher-order aggregate (no shuffle, no UDF). 55-bit mask so
              acc*31 + h stays under 2^63: DuckDB raises on BIGINT
              overflow while the JVM wraps silently — the mask keeps the
              two engines in the same arithmetic.
    """
    toks = tokenize(text_col)
    bow = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    mod = F.lit((1 << 55) - 1).cast("bigint")
    roll = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + md5_int(t, 7)).bitwiseAND(mod),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        bow.alias("bow_fp"),
        roll.alias("roll_fp"),
    )
