"""DSIR-style importance weights: hashed-unigram log-likelihood ratio
of a target subcorpus vs the raw corpus, scored per document.

Extension beyond the reference (whisper_pandas.py, a 299-line .wsp
decoder, has no text surface): Data Selection with Importance
Resampling (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS) is the published recipe for skewing a
raw web corpus toward a target domain — fit two bag-of-hashed-ngrams
models (target / raw), score every raw document by the summed
log-ratio, resample proportionally. This operator computes the scoring
half with unigrams: the feature hash, the two smoothed count models,
and the per-document log-ratio sum.

score(d) = sum_{tok in d} [ ln((ct_t[b(tok)]+1)/(T+B))
                          - ln((ct_r[b(tok)]+1)/(R+B)) ]

where b() is a B-bucket md5 feature hash, ct_t/ct_r are per-bucket
token counts over the target/raw corpora, and T/R their totals
(add-one smoothing over B buckets).

Cross-engine determinism
------------------------
Counts, buckets, and totals are exact integers on both engines (md5
hash family, functions/hashing.py). The two ln() calls per bucket are the
only transcendentals; the per-document combination is a LEFT FOLD over
(bucket, n_in_doc * lw[bucket]) in sorted bucket order — never an
engine-ordered SUM — so the only cross-engine slack is a possible
last-ulp difference in libm-vs-JVM ln on identical rational operands,
absorbed by the +1e-9 biased round-6 (the established exp/ln-oracle
budget, sample_weighted_topk precedent).

Scale design
------------
The corpus explodes ONCE: the token stream reduces immediately to
per-(doc, bucket) counts (partial-agg exchange #1, ~buckets-per-doc
rows out), and BOTH models derive from that materialized reduced
frame via conditional aggregation (exchange #2, B=256 rows out); the
weight table + the two scalar totals broadcast; the per-doc fold is
exchange #3 over the reduced frame. At 100 TB the plan is: scan ->
narrow explode -> one corpus-sized partial-agg exchange -> two
bounded exchanges -> broadcast joins — no payload wider than
(hash, count) ever shuffles, the model side is CONSTANT size
regardless of corpus scale, and the corpus is scanned exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import seeded_hash64
from whisper_pandas_spark.functions.text import tokenize
from whisper_pandas_spark.stage import stage_materialize

N_BUCKETS = 256
_SEED = "dsir"


def dsir_bucket(tok: Column) -> Column:
    """md5 feature hash of a token into 0..N_BUCKETS-1 (exact integers
    on both engines; DuckDB twin:
    ``('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT % 256``)."""
    return seeded_hash64(tok, _SEED) % N_BUCKETS


def dsir_weights(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: Column,
) -> DataFrame:
    """(id, n_tokens, dsir_logratio) for every document in *docs*.

    *target_pred* marks the target subcorpus (evaluated per document,
    e.g. ``F.col('lang') == 'en'``); the raw model is the whole input.
    Documents with zero alphanumeric tokens score 0.0 with n_tokens 0.
    """
    # explode_outer + NULL-bucket carrier rows: a token-less document
    # (NULL text, or tokenize's single '' token for alnum-free text)
    # keeps exactly ONE (doc, is_t, NULL-bucket) row, so the zero-score
    # backfill happens inside the aggregate itself and the final
    # corpus-sized left join against the id list (one full-table
    # exchange + sort-merge on each side) disappears from the plan.
    # Deliberately NOT F.filter on the array — higher-order array
    # lambdas are CodegenFallback (interpreted per element, the repo's
    # pinned trap); the when() guard is codegen and tokenize never
    # produces interior empties, so '' only ever appears as the lone
    # element of an empty tokenization.
    toks = (
        docs.select(
            F.col(id_col).alias("doc"),
            target_pred.cast("int").alias("is_t"),
            F.explode_outer(tokenize(text_col)).alias("tok"),
        )
        .select(
            "doc",
            "is_t",
            F.when(F.col("tok") != "", dsir_bucket(F.col("tok"))).alias("b"),
        )
    )
    # ONE corpus pass: reduce the token stream to per-(doc, bucket)
    # counts first (is_t is constant per doc, so carrying it in the key
    # adds no rows), then derive BOTH models from that already-reduced
    # frame — without this, the model/totals/scoring branches would
    # each re-run the corpus explode (3 scans at 100 TB). The eager
    # stage barrier materializes the reduced frame once for its two
    # consumers (the engine's standard shared-lineage move).
    # count("b") skips NULLs, so the carrier row of a token-less doc
    # lands as (doc, is_t, NULL, n=0) — invisible to the model sums and
    # a 0.0 contribution to the score fold below
    per_db = stage_materialize(
        toks.groupBy("doc", "is_t", "b")
        .agg(F.count("b").cast("bigint").alias("n"))
    )
    model = per_db.where(F.col("b").isNotNull()).groupBy("b").agg(
        F.sum(F.when(F.col("is_t") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("ct_t"),
        F.sum("n").cast("bigint").alias("ct_r"),
    )
    totals = model.agg(
        F.sum("ct_t").alias("tt"), F.sum("ct_r").alias("tr")
    )
    lw = (
        model.crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.col("ct_t") + 1).cast("double"))
                - F.log((F.col("tt") + F.lit(N_BUCKETS)).cast("double"))
                - F.log((F.col("ct_r") + 1).cast("double"))
                + F.log((F.col("tr") + F.lit(N_BUCKETS)).cast("double"))
            ).alias("lw"),
        )
    )
    # left join: every non-NULL bucket in per_db is in the model by
    # construction, so lw only comes back NULL on the token-less carrier
    # rows — their term coalesces to 0.0 and the fold yields exactly the
    # 0.0 the old ids-left-join backfill produced (0.0 + 0.0 == 0.0; a
    # doc has either all-non-NULL buckets or the single carrier row, so
    # no real fold sequence changes)
    scored = (
        per_db.join(F.broadcast(lw), "b", "left")
        .groupBy("doc")
        .agg(
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "b",
                            F.coalesce(
                                F.col("n").cast("double") * F.col("lw"),
                                F.lit(0.0),
                            ).alias("term"),
                        )
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["term"],
            ).alias("score"),
        )
    )
    return scored.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        F.round(F.col("score") + F.lit(1e-9), 6).alias("dsir_logratio"),
    )
