"""Bigram collocation (phrase) mining over a document corpus.

`collocation_lift` — corpus-level phrase detection by association
strength: for every adjacent token pair (w1, w2) with corpus count
n_ab >= min_count, score it by LIFT

    lift(w1, w2) = n_ab * N / (n_a * n_b)

where n_a / n_b are corpus unigram counts and N the total token count.
Lift is exp(PMI) — the standard pointwise-mutual-information phrase
score (Church & Hanks 1990; the `min_count`+threshold formulation is
word2vec's phrase pass, Mikolov et al. 2013 §4) expressed WITHOUT the
logarithm, so every value is one IEEE division of two exact integers
(both products stay far below 2^53 at any SF where a single count fits
a BIGINT) — bit-identical across engines, no transcendental-function
parity risk. Callers who want PMI take ln() of the result.

Tokenization is the engine's shared text family (textrank.py /
textstats.py): lowercase, non-[a-z0-9] runs to single spaces, split,
drop empties. Bigrams come from zipping each token array with its
1-shifted self (arrays_zip of two slices) — per-row array ops, no
self-join and no Python.

Scale: the shuffles are (a) one groupBy on the bigram pair, (b) one on
the unigram — both vocabulary-sized, orders of magnitude below corpus
size, and map-side-combinable (partial aggregation halves them before
the exchange). The two unigram-count joins key on a vocabulary table
that AQE broadcasts at any realistic vocabulary size; the final top-k
compiles to TakeOrderedAndProject. Nothing here is O(corpus^2).

Reference scope note: whisper_pandas.py has no text operators at all
(it is a timeseries-file decoder, :1-299); this module is part of the
training-data-pipeline surface the task mandates beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

# Shared with operators/textrank.py:_tokenize and the DuckDB oracles:
# lower -> collapse non-alnum runs to one space -> trim -> split.
_TOKEN_SPLIT_RE = "[^a-z0-9]+"


def _tokens(text_col: str):
    cleaned = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _TOKEN_SPLIT_RE, " "))
    return F.filter(F.split(cleaned, " "), lambda t: t != "")


def collocation_lift(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-`k` adjacent token pairs by lift (= exp(PMI)).

    Returns columns ``w1, w2, n_ab, n_a, n_b, n_total, lift`` ordered by
    (lift desc, n_ab desc, w1, w2) — the count tie-breaks make the top-k
    deterministic even when two pairs share a score.
    """
    toks = df.select(_tokens(text_col).alias("toks")).where(F.size("toks") > 0)

    # Adjacent pairs: zip toks[0:n-1] with toks[1:n-1] (slice is 1-based;
    # second slice naturally runs to the end with the same length cap).
    n = F.size("toks")
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("w1"),
                F.slice("toks", 2, n - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))

    uni = stage_materialize(
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        # Vocabulary-sized and scanned three times below (two count
        # joins + the total); materialize once instead of re-tokenizing
        # the corpus per use.
    )
    n_total = uni.agg(F.sum("n_w").alias("n_total"))

    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )

    scored = (
        big.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b"), "w2")
        .crossJoin(F.broadcast(n_total))
        # exact integer products (< 2^53 by the BIGINT-count contract),
        # then ONE double division -> bit-identical everywhere.
        .withColumn(
            "lift",
            (F.col("n_ab") * F.col("n_total")).cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double"),
        )
    )
    return scored.select(
        "w1", "w2", "n_ab", "n_a", "n_b", "n_total", "lift"
    ).orderBy(
        F.desc("lift"), F.desc("n_ab"), "w1", "w2"
    ).limit(k)
