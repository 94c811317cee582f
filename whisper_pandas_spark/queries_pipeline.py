"""Registry entries: training-data pipeline engineering — deterministic
sampling, dataset splits and mixtures (``sample_*``), skew mitigation
(``join_salted_skew``, ``agg_salted_twophase``), sequence packing,
profiling and data-quality gates, and the corpus / curation funnels.

The sampling entries verify the md5 bucket arithmetic bit-for-bit
against DuckDB (same engine-portable hash the dedup family uses). The
skew entries verify that salting is semantically invisible: the oracle
is the PLAIN formulation — same rows, same values, no salt anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.curation_fixture import (
    _CUR_MIN_H,
    _CUR_MIN_TOKENS,
    _CUR_N_TARGET,
    _CUR_SEED,
    _cur_fixture_sql,
    _curation_oracle,
)
from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.functions.text import DUCK_TOKS
from whisper_pandas_spark.operators.sampling import (
    BUCKET_SPACE,
    duck_hash_bucket,
    hash_sample,
    split_assign,
)
from whisper_pandas_spark.operators.skew import salted_agg_count_sum, salted_join
from whisper_pandas_spark.stage import stage_materialize


SAMPLE_FRAC = 0.25
TEST_FRAC = 0.1
VAL_FRAC = 0.1


@register(
    "sample_hash_deterministic",
    oracle=f"""
SELECT doc_id, lang
FROM documents
WHERE {duck_hash_bucket("doc_id")} < {int(SAMPLE_FRAC * BUCKET_SPACE)}
ORDER BY doc_id
""",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed ~25% sample of `documents`: each row's fate is
    md5(seed:doc_id) — reproducible across runs, engines and
    partitionings (df.sample() is none of those). Zero shuffles."""
    return hash_sample(
        table(spark, sf_dir, "documents"), "doc_id", SAMPLE_FRAC
    ).select("doc_id", "lang").orderBy("doc_id")


@register(
    "sample_train_test_split",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id,
         CASE
           WHEN {duck_hash_bucket("doc_id")} < {int(TEST_FRAC * BUCKET_SPACE)}
             THEN 'test'
           WHEN {duck_hash_bucket("doc_id")}
                < {int(TEST_FRAC * BUCKET_SPACE) + int(VAL_FRAC * BUCKET_SPACE)}
             THEN 'val'
           ELSE 'train'
         END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM assigned GROUP BY split ORDER BY split
""",
)
def sample_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/val/test assignment keyed on doc_id (a joined row
    can never straddle splits), summarized per split. The split column
    is a pure hash function — appending data never flips old rows."""
    assigned = split_assign(
        table(spark, sf_dir, "documents"), "doc_id", TEST_FRAC, VAL_FRAC
    )
    return (
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("split")
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT n_name, count(*) AS n_customers,
       CAST(sum(c_acctbal_cents) AS BIGINT) AS sum_acctbal_cents
FROM (SELECT c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS c_acctbal_cents
      FROM customer) c
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (operators/skew.py): the hot-key mitigation for
    sort-merge joins AQE can't split. The oracle is the PLAIN join —
    salting must be semantically invisible. acctbal in integer cents so
    the sum is order-independent (exact under any partitioning)."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nkey"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("c_acctbal_cents"),
    )
    nat = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"), "n_name"
    )
    return (
        salted_join(cust, nat, "nkey", salt_factor=8)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("c_acctbal_cents").alias("sum_acctbal_cents"),
        )
        .orderBy("n_name")
    )


@register(
    "agg_salted_twophase",
    oracle="""
SELECT event_type AS key, count(*) AS n_rows,
       CAST(sum(user_id) AS BIGINT) AS sum_value
FROM events GROUP BY event_type ORDER BY key
""",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: partial (key, salt) combine then
    final per-key merge — the explicit hot-key split. Counts/sums of
    integers recombine exactly; oracle is the direct GROUP BY."""
    out = salted_agg_count_sum(
        table(spark, sf_dir, "events"), "event_type", "user_id", salt_factor=8
    )
    return out.select(
        F.col("event_type").alias("key"), "n_rows", "sum_value"
    ).orderBy("key")


PACK_BUDGET = 2048
PACK_SHARDS = 4


@register(
    "pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, len({DUCK_TOKS}) AS n_tok,
         ({duck_hash_bucket("doc_id")} % {PACK_SHARDS}) AS shard
  FROM documents
), binned AS (
  SELECT lang, shard, n_tok,
         CAST(floor(
           coalesce(sum(n_tok) OVER (PARTITION BY lang, shard
                                     ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0)
           / {PACK_BUDGET}) AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, shard, bin_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM binned GROUP BY lang, shard, bin_id
ORDER BY lang, shard, bin_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (operators/packing.py): shard by the
    engine-portable md5 bucket, pack each (lang, shard) contiguously into
    PACK_BUDGET(=2048)-token bins via one window cumsum. Bin summary per
    (lang, shard, bin). Packing is the step between dedup and tokenizer
    output in a real corpus pipeline."""
    from whisper_pandas_spark.functions.text import tokenize
    from whisper_pandas_spark.operators.packing import pack_bins

    docs = table(spark, sf_dir, "documents")
    binned = pack_bins(
        docs,
        "doc_id",
        F.size(tokenize("text")),
        "lang",
        PACK_BUDGET,
        n_shards=PACK_SHARDS,
    )
    return (
        binned.groupBy("lang", "shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .orderBy("lang", "shard", "bin_id")
    )


@register(
    "profile_documents",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty,
       min(length(text)) AS min_len,
       max(length(text)) AS max_len,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
""",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling — the first query any pipeline runs on a new drop:
    per-language row counts, source cardinality, empty-text rate, length
    envelope. All integer aggregates (exact under any partitioning);
    one shuffle with map-side partial agg."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(
                F.when(
                    F.col("text").isNull() | (F.col("text") == ""), 1
                ).otherwise(0)
            ).alias("n_empty"),
            F.min(F.length("text")).alias("min_len"),
            F.max(F.length("text")).alias("max_len"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("lang")
    )


QUOTA_N = 25


@register(
    "sample_source_quota",
    oracle=f"""
SELECT source, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= {QUOTA_N}
GROUP BY source ORDER BY source
""",
)
def sample_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing: cap every source at its first QUOTA_N(=25) docs by
    doc_id (operators/sampling.py per_group_quota — WindowGroupLimit
    prunes map-side, so a dominant crawl domain never floods one
    reducer). Summarized per source so the check covers both the cap and
    the membership."""
    from whisper_pandas_spark.operators.sampling import per_group_quota

    kept = per_group_quota(
        table(spark, sf_dir, "documents"), "source", "doc_id", QUOTA_N
    )
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("source")
    )


HIST_LO = 0.0
HIST_W = 10.0
HIST_BUCKETS = 10


@register(
    "profile_histogram",
    oracle=f"""
SELECT LEAST(GREATEST(CAST(floor((value - {HIST_LO}) / {HIST_W}) AS BIGINT), 0),
             {HIST_BUCKETS - 1}) AS bucket,
       count(*) AS n
FROM events GROUP BY bucket ORDER BY bucket
""",
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram with clamped edge buckets — the
    scale-safe profiling shape (one groupBy on a derived int key; the
    bucket arithmetic is a pure row-wise expression, exact on both
    engines)."""
    ev = table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - HIST_LO) / HIST_W).cast("bigint"), F.lit(0)
        ),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        ev.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


STRATA_FRACS = {"en": 0.5, "zh": 0.1}
STRATA_DEFAULT = 0.25


@register(
    "sample_stratified",
    oracle=f"""
SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE {duck_hash_bucket("doc_id")} <
      CASE lang
        WHEN 'en' THEN {int(0.5 * BUCKET_SPACE)}
        WHEN 'zh' THEN {int(0.1 * BUCKET_SPACE)}
        ELSE {int(0.25 * BUCKET_SPACE)}
      END
GROUP BY lang ORDER BY lang
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling (language rebalancing: keep
    half the English, a tenth of the Chinese, a quarter of the rest) —
    df.sampleBy's reproducible twin. Summarized per language so the
    check covers both the kept-set and its membership."""
    from whisper_pandas_spark.operators.sampling import stratified_hash_sample

    kept = stratified_hash_sample(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "lang",
        STRATA_FRACS,
        default_fraction=STRATA_DEFAULT,
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("lang")
    )


def _e2e_oracle() -> str:
    """Full corpus-pipeline replica: every stage is the same formula an
    individual entry already proves bit-exact (gate ≡ filter_quality_gates,
    dedup ≡ dedup_exact, split ≡ sample_train_test_split, decontam ≡
    decontam_ngram_overlap, packing ≡ pack_sequences)."""
    from whisper_pandas_spark.functions.hashing import duck_base_hash32
    from whisper_pandas_spark.operators.textstats import (
        GATE_MAX_DUP,
        GATE_MIN_QUALITY,
        STOPWORDS,
    )

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    raw_sh = (
        "list_transform(range(1, greatest(len(t)-2, 0)+1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
    )
    t_thr = int(TEST_FRAC * BUCKET_SPACE)
    v_thr = t_thr + int(VAL_FRAC * BUCKET_SPACE)
    return f"""
WITH base AS (
  SELECT doc_id, lang, text, {DUCK_TOKS} AS t,
         length(text) AS n_chars,
         length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
  FROM documents
), scored AS (
  SELECT doc_id, lang, text, t,
    round(0.4 * (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (1.0 - least(punct::DOUBLE / n_chars * 5, 1.0))
      + 0.3 * least(len(list_filter(t, x -> x IN ({stop_list})))::DOUBLE
                    / len(t) * 10, 1.0), 6) AS quality,
    {raw_sh} AS s
  FROM base
), gated AS (
  SELECT doc_id, lang, text, t FROM scored
  WHERE quality >= {GATE_MIN_QUALITY} AND len(s) > 0
    AND round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) <= {GATE_MAX_DUP}
), deduped AS (
  SELECT doc_id, lang, text, t FROM gated
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
), assigned AS (
  SELECT doc_id, lang, t,
    CASE WHEN {duck_hash_bucket("doc_id")} < {t_thr} THEN 'test'
         WHEN {duck_hash_bucket("doc_id")} < {v_thr} THEN 'val'
         ELSE 'train' END AS split
  FROM deduped
), shf AS (
  SELECT doc_id, split,
         list_distinct(list_transform(list_distinct({raw_sh}),
                                      x -> {duck_base_hash32("x")})) AS hh
  FROM assigned WHERE len(t) >= 3
), held AS (
  SELECT DISTINCT unnest(hh) AS h FROM shf WHERE split = 'test'
), cont AS (
  SELECT DISTINCT tr.doc_id
  FROM (SELECT doc_id, unnest(hh) AS h FROM shf WHERE split = 'train') tr
  JOIN held USING (h)
), clean AS (
  SELECT doc_id, lang, split, len(t) AS n_tok,
         ({duck_hash_bucket("doc_id")} % {PACK_SHARDS}) AS shard
  FROM assigned
  WHERE split <> 'train' OR doc_id NOT IN (SELECT doc_id FROM cont)
), binned AS (
  SELECT split, lang, doc_id, n_tok, shard,
    CAST(floor(
      coalesce(sum(n_tok) OVER (PARTITION BY split, lang, shard
                                ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
      / {PACK_BUDGET}) AS BIGINT) AS bin_id
  FROM clean
)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       count(DISTINCT shard * 1000000000 + bin_id) AS n_bins
FROM binned GROUP BY split, lang ORDER BY split, lang
"""


@register("pipeline_corpus_end_to_end", oracle=_e2e_oracle())
def pipeline_corpus_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship INTEGRATED corpus pipeline — the five stages a real
    pre-training data build runs, chained end to end over `documents`:

      1. quality gate (composite score floor + repetition ceiling) —
         row-local expressions fused into the scan, zero shuffles;
      2. exact dedup — min-doc_id keeper per content digest; the window
         shuffles on sha2(text), never on the document itself;
      3. leak-free train/val/test split — md5-bucket assignment, a pure
         function of doc_id (appends never flip old rows);
      4. decontamination — train docs sharing any word-3-gram with the
         TEST split are scrubbed; the held-out shingle set is the small
         join side (broadcast-shaped at scale);
      5. sequence packing — contiguous 2048-token bins per
         (split, lang, shard) via one window cumsum, shard count is the
         parallelism/skew dial.

    Output: per (split, lang) doc/token/bin totals (+ id-sum membership
    check). Every stage reuses an operator whose own registry entry is
    independently bit-exact vs DuckDB; this entry proves the COMPOSITION
    stays exact. Shuffle budget at 100 TB: gate rides the scan; dedup,
    decontam-groupBy and packing are one hash shuffle each — no stage is
    quadratic and no key concentrates more than a shard's documents."""
    from pyspark.sql.window import Window

    from whisper_pandas_spark.functions.text import tokenize
    from whisper_pandas_spark.operators.decontam import ngram_contamination
    from whisper_pandas_spark.operators.packing import pack_bins
    from whisper_pandas_spark.operators.textstats import quality_gate_filter

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    gated = quality_gate_filter(docs, "doc_id", "text")
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    deduped = (
        gated.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    # eager stage barrier, not persist: the frame feeds FOUR downstream
    # consumers in the RETURNED lazy plan (train twice, heldout, the
    # non-train union), and the caller has no handle to unpersist — a
    # persist here would pin a fresh copy in the CacheManager on every
    # bench rep / driver run (the round-11 ADVICE leak class; checkpoint
    # blocks are GC-released with the DataFrame).
    assigned = stage_materialize(
        split_assign(deduped, "doc_id", TEST_FRAC, VAL_FRAC)
    )
    train = assigned.filter(F.col("split") == "train")
    heldout = assigned.filter(F.col("split") == "test")
    # Decontam stays the TWO-pass form after a measured round-15
    # experiment (OPTIMIZATION_r15.md, rejected candidate 1):
    # fusing both sides into one carry_cols shingle pass behind a
    # checkpoint was result-identical and ~parity locally (interleaved
    # full-entry A/B old 2.31/2.45 vs fused 2.19/2.49 best/median), but
    # the fused form materializes a corpus-sized (doc_id, hh) table to
    # save NO shingle compute (both forms shingle the same 90% of docs
    # exactly once) — at 100 TB that is extra executor-storage pressure
    # for one saved stage launch, so the two-pass shape wins.
    dirty = ngram_contamination(train, heldout).select("doc_id")
    corpus = train.join(dirty, "doc_id", "left_anti").unionByName(
        assigned.filter(F.col("split") != "train")
    )
    corpus = corpus.withColumn("blk", F.concat_ws("|", "split", "lang"))
    binned = pack_bins(
        corpus,
        "doc_id",
        F.size(tokenize("text")),
        "blk",
        PACK_BUDGET,
        n_shards=PACK_SHARDS,
    )
    out = (
        binned.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_tok").alias("n_tokens"),
            F.countDistinct(
                F.col("shard").cast("bigint") * F.lit(1000000000)
                + F.col("bin_id")
            ).alias("n_bins"),
        )
        .orderBy("split", "lang")
    )
    out._wps_cached = [assigned]
    return out


# -- deterministic epoch shuffle -------------------------------------------


@register(
    "sample_shuffle_epoch",
    oracle="""
SELECT row_number() OVER (
         ORDER BY ('0x' || substr(md5('3:' || doc_id), 1, 8))::BIGINT, doc_id
       ) AS pos,
       doc_id
FROM documents ORDER BY pos
""",
)
def sample_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y19: the epoch-3 training permutation of documents — position is
    a pure function of (doc_id, seed), reproducible on any engine.

    The materialized ``pos`` column (global row_number) exists for the
    oracle comparison only — it funnels rows through one window
    partition and would NOT be the 100 TB shape. Production epoch
    shuffling is `deterministic_shuffle` alone: a range-partitioned
    SORT whose output order IS the permutation; shard files inherit it
    without any global rank being materialized."""
    from whisper_pandas_spark.operators.sampling import (
        deterministic_shuffle,
        hash_bucket,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    shuffled = deterministic_shuffle(docs, "doc_id", seed=3)
    w = Window.orderBy(hash_bucket(F.col("doc_id"), 3), F.col("doc_id"))
    return shuffled.select(
        F.row_number().over(w).alias("pos"), "doc_id"
    ).orderBy("pos")


# -- data-mixture sampling (per-domain token budgets) ----------------------

_MIX_DOMS = ("src0", "src1", "src2", "src3")
_MIX_QUOTAS = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}
_MIX_CASE = (
    "CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 3000 "
    "WHEN 'src2' THEN 2000 ELSE 1000 END"
)


@register(
    "sample_mixture_tokens",
    f"""
WITH cum AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('0:' || doc_id), 1, 8))::BIGINT AS h
  FROM documents WHERE source IN {_MIX_DOMS!r}
), o AS (
  SELECT doc_id, source, n_chars,
         coalesce(SUM(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM cum
)
SELECT doc_id, source, n_chars FROM o
WHERE before < {_MIX_CASE}
ORDER BY doc_id
""",
)
def sample_mixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y: data-mixture sampling — per-domain char budgets (web 4k /
    wiki 3k / ... here played by src0-3) filled by the deterministic
    hash-prefix greedy (operators/sampling.py:mixture_sample). The
    oracle is the NAIVE one-window-per-domain greedy; the engine runs
    the two-phase coarse-bucket form (no full-domain sort, boundary
    bucket only gets the exact window) with coarse_bits=2 so a 4-way
    bucket split and the boundary path are genuinely exercised at this
    fixture size. Both must pick the identical prefix."""
    from whisper_pandas_spark.operators.sampling import mixture_sample

    docs = table(spark, sf_dir, "documents")
    return (
        mixture_sample(
            docs,
            "source",
            _MIX_QUOTAS,
            weight_col="n_chars",
            key_col="doc_id",
            seed=0,
            coarse_bits=2,
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


# -- deterministic weighted sampling ---------------------------------------


@register(
    "sample_weighted_topk",
    """
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CASE WHEN n_chars > 0
              THEN exp(ln((('0x' || substr(md5('0:' || doc_id), 1, 8))::BIGINT + 1)
                          / 4294967296.0) / CAST(n_chars AS DOUBLE))
              ELSE CAST(0.0 AS DOUBLE) END AS rk
  FROM documents
)
SELECT doc_id, source, n_chars, round(rk, 12) AS rank_key
FROM keyed ORDER BY rk DESC, doc_id LIMIT 25
""",
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: deterministic weighted sampling without replacement
    (operators/sampling.py:weighted_sample_k) — Efraimidis-Spirakis
    keys u^(1/w) from the md5 draw, w = n_chars (longer docs
    proportionally likelier), top-25 via TakeOrderedAndProject. The
    oracle replays the identical draw and key arithmetic."""
    from whisper_pandas_spark.operators.sampling import weighted_sample_k

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_k(docs, "doc_id", "n_chars", k=25).orderBy(
        F.col("rank_key").desc(), "doc_id"
    )


# -- data-quality expectations report ---------------------------------------


@register(
    "quality_expectations",
    """
WITH t AS (SELECT count(*) AS total FROM documents)
SELECT 'in_range(n_chars,1,400)' AS "check",
       CAST((SELECT sum(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 400
                        THEN 1 ELSE 0 END) FROM documents) AS BIGINT) AS violations,
       total, FALSE AS _ph
FROM t
UNION ALL
SELECT 'in_set(lang)',
       CAST((SELECT sum(CASE WHEN lang IS NULL OR lang NOT IN ('en', 'de', 'fr')
                        THEN 1 ELSE 0 END) FROM documents) AS BIGINT), total, FALSE
FROM t
UNION ALL
SELECT 'matches(source)',
       CAST((SELECT sum(CASE WHEN source IS NULL
                        OR NOT regexp_matches(source, '^src[0-9]+$')
                        THEN 1 ELSE 0 END) FROM documents) AS BIGINT), total, FALSE
FROM t
UNION ALL
SELECT 'not_null(text)',
       CAST((SELECT sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
        FROM documents) AS BIGINT), total, FALSE
FROM t
UNION ALL
SELECT 'unique(doc_id)',
       CAST((SELECT sum(n - 1) FROM (SELECT count(*) AS n FROM documents
                                GROUP BY doc_id)) AS BIGINT), total, FALSE
FROM t
ORDER BY "check"
""",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: the declarative data-quality gate
    (operators/expectations.py) — five constraint families (null /
    range / set / regex / uniqueness) over `documents` in ONE scan for
    the row predicates plus one groupBy for uniqueness; the oracle
    recomputes every (violations, total) pair relationally. The regex
    stays in the Java∩RE2 subset. passed is derived client-side from
    violations=0 (the oracle's _ph placeholder keeps columns aligned)."""
    from whisper_pandas_spark.operators.expectations import (
        expect,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    docs = table(spark, sf_dir, "documents")
    rep = expect(
        docs,
        [
            not_null("text"),
            in_range("n_chars", 1, 400),
            in_set("lang", ("en", "de", "fr")),
            matches("source", "^src[0-9]+$"),
            unique("doc_id"),
        ],
    )
    return rep.select(
        "check", "violations", "total", F.lit(False).alias("_ph")
    ).orderBy("check")


# -- equi-depth feature binning ------------------------------------------------------


@register(
    "profile_equidepth_bins",
    oracle="""
WITH cnt AS (
  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, v,
         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM cnt
), js AS (SELECT unnest(generate_series(1, 7)) AS j),
edges AS (
  SELECT lang, j, min(v) AS edge FROM cum CROSS JOIN js
  WHERE cum >= (j * n + 7) // 8 GROUP BY lang, j
), below AS (
  SELECT c.lang, c.v, count(e.j) AS b
  FROM (SELECT DISTINCT lang, v FROM cnt) c
  LEFT JOIN edges e ON e.lang = c.lang AND e.edge < c.v
  GROUP BY 1, 2
), lab AS (
  SELECT d.lang, d.n_chars AS v, 1 + coalesce(b.b, 0) AS bucket
  FROM documents d JOIN below b ON b.lang = d.lang AND b.v = d.n_chars
)
SELECT lang, CAST(bucket AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi
FROM lab GROUP BY 1, 2
ORDER BY lang, bucket
""",
)
def profile_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: equi-depth (quantile) feature binning (operators/binning.py,
    the KBinsDiscretizer strategy='quantile' shape) — 8 buckets per
    lang over n_chars, edges from the engine's shared exact quantile
    pick with INTEGER rank ceil, labels = 1 + #edges strictly below.
    Per-bucket doc counts and value ranges, all exact integers."""
    from whisper_pandas_spark.operators.binning import equidepth_bins

    docs = table(spark, sf_dir, "documents").select("lang", "n_chars")
    labeled = equidepth_bins(docs, ["lang"], "n_chars", 8)
    return (
        labeled.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("lang", "bucket")
    )


# -- deterministic negative sampling -------------------------------------------------


@register(
    "sample_negative_items",
    oracle="""
WITH n AS (SELECT max(p_partkey) + 1 AS n_items FROM part),
inter AS (
  SELECT DISTINCT o_custkey AS usr, l_partkey AS item
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
), users AS (SELECT DISTINCT usr FROM inter),
cand AS (
  SELECT usr, i,
         ('0x' || substr(md5('0:' || usr || ':' || i), 1, 8))::BIGINT
           % n.n_items AS item
  FROM users CROSS JOIN n
  CROSS JOIN (SELECT unnest(generate_series(1, 20)) AS i)
), dedup AS (
  SELECT usr, item, min(i) AS i FROM cand GROUP BY 1, 2
), neg AS (
  SELECT d.usr, d.item, d.i FROM dedup d
  ANTI JOIN inter ON inter.usr = d.usr AND inter.item = d.item
), ranked AS (
  SELECT usr, item, i,
         row_number() OVER (PARTITION BY usr ORDER BY i) AS rnk
  FROM neg
)
SELECT usr AS user, CAST(item AS BIGINT) AS item, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY user, rnk
""",
)
def sample_negative_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: deterministic negative sampling (operators/negatives.py, the
    BPR / word2vec implicit-feedback recipe made replayable) — 5
    non-purchased parts per customer from the cross-engine md5 family
    with rejection against the real (customer, part) interactions.
    n_items comes from the part table (one driver-side scalar, bounded
    by contract); the same (user, i) yields the same item on any
    engine and any re-run."""
    from whisper_pandas_spark.operators.negatives import negative_samples

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    inter = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("usr"), F.col("l_partkey").alias("item")
    )
    n_items = (
        table(spark, sf_dir, "part").agg(F.max("p_partkey")).collect()[0][0] + 1
    )
    out = negative_samples(
        inter, "usr", "item", int(n_items), k=5, oversample=4, seed=0
    )
    return (
        out.withColumnRenamed("user", "user")
        .select("user", "item", F.col("rnk").cast("int").alias("rnk"))
        .orderBy("user", "rnk")
    )


# -- quality-temperature importance sampling ----------------------------------


def _qts_oracle() -> str:
    from whisper_pandas_spark.operators.textstats import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    u = duck_hash_bucket("doc_id", seed=0)
    return f"""
WITH base AS (
  SELECT doc_id, lang, {DUCK_TOKS} AS t,
    length(text) AS n_chars,
    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
  FROM documents
), ratios AS (
  SELECT doc_id, lang,
    punct::DOUBLE / n_chars AS punct_ratio,
    len(list_filter(t, x -> x IN ({stop_list})))::DOUBLE / len(t)
      AS stop_ratio,
    CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END AS length_ok
  FROM base
), scored AS (
  SELECT doc_id, lang,
    round(0.4 * length_ok + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
          + 0.3 * least(stop_ratio * 10, 1.0), 6) AS quality
  FROM ratios
), kept AS (
  SELECT doc_id, lang, quality FROM scored
  WHERE CAST({u} AS DECIMAL(38,0)) * CAST(1000000000000 AS DECIMAL(38,0))
      < CAST(round(quality * 1000000, 0) AS DECIMAL(38,0))
        * CAST(round(quality * 1000000, 0) AS DECIMAL(38,0))
        * CAST(4294967296 AS DECIMAL(38,0))
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       round(sum(CAST(quality AS DECIMAL(38,12)))::DOUBLE + 1e-9, 6)
         AS sum_quality
FROM kept GROUP BY lang ORDER BY lang
"""


@register("sample_quality_temperature", oracle=_qts_oracle())
def sample_quality_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: quality-weighted importance sampling at 1/T = 2
    (operators/sampling.py:quality_temperature_sample) — every doc kept
    with probability quality², decided by its own md5 uniform: the
    no-threshold curation upsampler. The acceptance test is exact
    integer DECIMAL arithmetic (no pow/exp), so the kept SET — checked
    here via per-lang counts + id sums + quality mass — replays
    bit-for-bit in DuckDB."""
    from whisper_pandas_spark.operators.sampling import (
        quality_temperature_sample,
    )
    from whisper_pandas_spark.operators.textstats import quality_score

    docs = table(spark, sf_dir, "documents")
    scored = quality_score(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    kept = quality_temperature_sample(scored, "doc_id", "quality", 2, seed=0)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_ids"),
            F.round(
                F.sum(F.col("quality").cast("decimal(38,12)")).cast("double")
                + 1e-9,
                6,
            ).alias("sum_quality"),
        )
        .orderBy("lang")
    )


# -- Benford first-digit profile ------------------------------------------------


@register(
    "profile_benford",
    oracle="""
WITH cents AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
d AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM cents WHERE c > 0 GROUP BY 1
),
t AS (SELECT sum(n) AS total FROM d)
SELECT digit, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
         AS observed,
       log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS expected
FROM d ORDER BY digit
""",
)
def profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profiling family +: Benford first-significant-digit audit over
    lineitem extended prices — the classic fraud/synthetic-data screen.
    The first digit comes from the INTEGER cents string (decimal
    formatting differences between engines can't bite), counts are
    exact, and the observed share plus the Benford expectation
    log10(1+1/d) are single fixed-order IEEE expressions.  Plan: one
    scan, one 9-group aggregate with map-side combine, one broadcast
    of the 1-row total — nothing keyed finer than the digit."""
    li = table(spark, sf_dir, "lineitem")
    cents = li.where(F.col("l_extendedprice").isNotNull()).select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
    )
    d = (
        cents.where(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = d.agg(F.sum("n").alias("total"))
    return (
        d.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "observed"
            ),
            F.log10(
                F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
            ).alias("expected"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# sample_group_split
# ---------------------------------------------------------------------------
# Leakage-free GROUPED split: the split key is the registered DOMAIN,
# not the document — all of a domain's documents land in the same
# split (near-duplicate pages within a crawl domain would otherwise
# leak across train/test and inflate eval). The in-query audit column
# proves it: every domain's doc-distinct split count is 1.


@register(
    "sample_group_split",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, source || '.com' AS reg_domain FROM documents
), assigned AS (
  SELECT doc_id, reg_domain,
    CASE WHEN ('0x' || substr(md5('0:' || reg_domain), 1, 8))::BIGINT
              < {int(0.2 * (1 << 32))} THEN 'test' ELSE 'train' END AS split
  FROM keyed
)
SELECT split, count(*) AS n_docs,
  count(DISTINCT reg_domain) AS n_domains,
  CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM assigned GROUP BY split ORDER BY split
""",
)
def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline +: leakage-free GROUPED train/test split — the split is
    a pure function of the DOMAIN key (operators/sampling.py:
    split_assign on reg_domain), so every domain's documents land in
    one split and near-duplicate pages cannot straddle train/test (the
    grouped analogue of sample_train_test_split; group-integrity is
    pytest-pinned). Zero extra shuffles: the md5 bucket rides the
    scan, the summary is one aggregation."""
    from whisper_pandas_spark.operators.urlkey import url_key_df

    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.withColumn(
        "url",
        F.concat(F.lit("https://www."), F.col("source"),
                 F.lit(".com/doc/"), F.col("doc_id").cast("string")),
    )
    keyed = url_key_df(urls, "url").select("doc_id", "reg_domain")
    assigned = split_assign(keyed, "reg_domain", test_fraction=0.2)
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("reg_domain").alias("n_domains"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# sample_temperature_lang
# ---------------------------------------------------------------------------

_TEMP_N_TARGET = 300
_TEMP_SEED = 7


def _temp_oracle() -> str:
    return f"""
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang
), s AS (
  SELECT list_reduce(
    list_prepend(CAST(0.0 AS DOUBLE),
                 list(sqrt(CAST(c AS DOUBLE)) ORDER BY lang)),
    (x, y) -> x + y) AS s
  FROM c
), r AS (
  SELECT lang,
    least(1.0, {float(_TEMP_N_TARGET)} * (sqrt(CAST(c AS DOUBLE)) / s.s)
               / CAST(c AS DOUBLE)) AS rate
  FROM c, s
)
SELECT d.doc_id, d.lang,
  round(r.rate + 1e-9, 6) AS sample_rate,
  (CAST(('0x' || substr(md5('{_TEMP_SEED}:' || CAST(d.doc_id AS VARCHAR)),
                        1, 8))::BIGINT AS DOUBLE)
   < r.rate * 4294967296.0) AS kept
FROM documents d JOIN r USING (lang)
ORDER BY doc_id
"""


@register("sample_temperature_lang", oracle=_temp_oracle())
def sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling+: UniMax/mT5 sqrt-temperature language rebalancing
    (operators/sampling.py:temperature_rebalance) — per-language keep
    rates from observed counts at tau=2, gated per doc by the
    deterministic md5 draw. The kept SET replays bit-for-bit (sqrt is
    IEEE-exact, the rate-table sum is a name-ordered fold, the gate is
    an exact integer-vs-double compare); only the REPORTED rate is
    rounded. Plan: one group-count exchange (rows out = #languages),
    broadcast rate join, codegen filter — the bulk never shuffles."""
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    docs = table(spark, sf_dir, "documents")
    out = temperature_rebalance(
        docs, "lang", "doc_id", n_target=_TEMP_N_TARGET, seed=_TEMP_SEED
    )
    return out.select("doc_id", "lang", "sample_rate", "kept").orderBy(
        "doc_id"
    )


@register("pipeline_curation_end_to_end", oracle=_curation_oracle())
def pipeline_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition of the round-13b gates: PII scrub
    (operators/redact.py, codegen regex) -> lexical-entropy quality
    gate (operators/lexical.py, pinned-log2 contract) -> exact min-id
    dedup on the CLEAN text (dup pairs become identical again only
    after redaction — order matters and the fixture proves it) ->
    UniMax temperature rebalance over the survivors
    (operators/sampling.py). Per-doc funnel is the checked value.
    Shuffle budget: one buddy equi-join (fixture), the entropy
    exchanges, ONE md5-keyed dedup window, one #langs-row count
    exchange + broadcast rate join — document text never shuffles
    after the dedup key is hashed."""
    from whisper_pandas_spark.operators.lexical import token_entropy
    from whisper_pandas_spark.operators.redact import pii_redact
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    docs = table(spark, sf_dir, "documents")
    buddy = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    b0 = docs.join(buddy, F.col("bid") == F.col("doc_id") - 1, "left")
    fix = b0.select(
        "doc_id", "lang", F.expr(_cur_fixture_sql("STRING")).alias("text")
    )
    # Stage barriers (stage.py:stage_materialize): red feeds BOTH the
    # entropy branch and the funnel frame, gate feeds dedup + the
    # output frame, g2 feeds the survivor counts + the
    # output join — without the barriers each consumer re-evaluates
    # its whole upstream subtree and the plan multiplies to 64 parquet
    # scans of the fixture (measured); with them the corpus is scanned
    # once per stage. SCALE.md "Funnel stage boundaries" has the
    # 100 TB story; tests/test_barriers.py pins bit-equality under a
    # fresh default-config session with a reliable checkpoint dir.
    red = (
        pii_redact(fix, "doc_id", "text")
        .join(fix.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "pii_found",
            (F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")) > 0,
        )
    )
    red = stage_materialize(red)
    ent = token_entropy(red, "doc_id", "clean_text").select(
        "doc_id", "n_tokens", "entropy"
    )
    # clean_text is only ever consumed as its md5 past this point (the
    # dedup key) — hash it HERE so the gate checkpoint and the dedup
    # window exchange carry a 32-char digest instead of full document
    # text (guide §2.3: shuffle keys, not payloads; round 14).
    gate = red.select(
        "doc_id", "lang", F.md5("clean_text").alias("tkey"), "pii_found"
    ).join(ent, "doc_id", "left")
    gate = gate.withColumn(
        "entropy_ok",
        F.coalesce(
            (F.col("entropy") >= _CUR_MIN_H)
            & (F.col("n_tokens") >= _CUR_MIN_TOKENS),
            F.lit(False),
        ),
    )
    gate = stage_materialize(gate)
    w = Window.partitionBy("tkey").orderBy("doc_id")
    ded = (
        gate.filter("entropy_ok")
        .select("doc_id", "tkey")
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", (F.col("rn") == 1).alias("is_canonical"))
    )
    g2 = (
        gate.join(ded, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "pii_found",
            "entropy_ok",
            F.coalesce("is_canonical", F.lit(False)).alias("is_canonical"),
        )
    )
    g2 = stage_materialize(g2)
    surv = g2.filter("entropy_ok AND is_canonical").select("doc_id", "lang")
    tr = temperature_rebalance(
        surv, "lang", "doc_id", n_target=_CUR_N_TARGET, seed=_CUR_SEED
    ).select("doc_id", "sample_rate", F.col("kept").alias("skept"))
    out = g2.join(tr, "doc_id", "left").select(
        "doc_id",
        "lang",
        "pii_found",
        "entropy_ok",
        "is_canonical",
        F.coalesce("sample_rate", F.lit(0.0)).alias("sample_rate"),
        F.coalesce("skept", F.lit(False)).alias("kept"),
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# sample_doremi_weights
# ---------------------------------------------------------------------------

_DOREMI_ITERS = 8
_DOREMI_CLF_ITERS = 6

# The quality classifier's feature/label recipe (queries_text
# text_quality_classifier) with the domain column carried through —
# DoReMi's "loss" here is the squared error of the in-engine softsign
# classifier, the exactly-replayable loss the engine already trains
# (VERDICT r13 #4 names the classifier loss as the intended source).
_DOREMI_FEATS_CTE = """feats AS (
  SELECT doc_id, source,
         n_chars / 400.0 AS x0,
         (length(text) - length(replace(text, ' ', ''))) / length(text) AS x1,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
)"""


def _doremi_oracle() -> str:
    from whisper_pandas_spark.operators.classifier import training_replay_sql
    from whisper_pandas_spark.operators.doremi import (
        LOSS_SCALE,
        doremi_replay_sql,
    )

    chain = training_replay_sql(
        _DOREMI_FEATS_CTE, ["x0", "x1"], "y", _DOREMI_CLF_ITERS, 1.0
    )
    m = "w.w0 * f.x0 + w.w1 * f.x1 + w.wb"
    p = f"(0.5 * (1.0 + ({m}) / (1.0 + abs({m}))))"
    loss_cte = f"""loss_ AS MATERIALIZED (
  SELECT f.source AS domain,
    CAST(round(({p} - f.y) * ({p} - f.y) * {LOSS_SCALE}.0, 0) AS BIGINT)
      AS il
  FROM feats f CROSS JOIN w{_DOREMI_CLF_ITERS}_ w
)"""
    dchain = doremi_replay_sql("loss_", "domain", "il", _DOREMI_ITERS)
    return f"""{chain},
{loss_cte},
{dchain}
SELECT h.iter, h.domain AS source, CAST(h.w AS BIGINT) AS w,
  round(CAST(h.w AS DOUBLE)
        / CAST(sum(h.w) OVER (PARTITION BY h.iter) AS DOUBLE) + 1e-9, 6)
    AS weight
FROM hist h ORDER BY h.iter, h.domain
"""


def _doremi_losses(spark: SparkSession, sf_dir: str):
    """(docs, losses) — the shared classifier-loss stage: train the
    softsign quality classifier (DECIMAL folds), score the corpus, and
    integerize the per-doc squared error once. Used by BOTH DoReMi
    entries so the weight and mixture faces derive from the identical
    trajectory."""
    from whisper_pandas_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )
    from whisper_pandas_spark.operators.doremi import LOSS_SCALE

    docs = table(spark, sf_dir, "documents")
    feats = docs.select(
        "source",
        (F.col("n_chars") / F.lit(400.0)).alias("x0"),
        (
            (F.length("text") - F.length(F.expr("replace(text, ' ', '')")))
            / F.length("text")
        ).alias("x1"),
        F.when(F.col("lang") == "en", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    # The trainer scans its input once per iteration (6x), plus a count
    # and the loss pass — materialize the NARROW numeric frame once so
    # the string-heavy projection (length/replace over full text) runs
    # one scan, not eight (guide §1.2: don't recompute what a pass can
    # compute once; doc_id/text dropped — project before materializing).
    feats = stage_materialize(feats)
    w = logreg_train(feats, ["x0", "x1"], "y", iters=_DOREMI_CLF_ITERS, lr=1.0)
    scored = logreg_score(feats, w, ["x0", "x1"])
    err = F.col("prob") - F.col("y")
    losses = scored.select(
        "source",
        F.round(err * err * F.lit(float(LOSS_SCALE)), 0)
        .cast("bigint")
        .alias("il"),
    )
    return docs, losses


@register("sample_doremi_weights", oracle=_doremi_oracle())
def sample_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+/Y160: DoReMi-style domain mixture weights (operators/
    doremi.py) — mirror-descent (multiplicative-weights form) over
    per-domain excess loss of the in-engine softsign classifier, with
    the paper's uniform-smoothing step each iteration. Every stage is
    exactly replayable: classifier training folds through DECIMAL
    (Y56), per-doc loss integerizes once, and the whole T-step weight
    recursion runs in BIGINT — the oracle replays training AND the
    full weight-iteration history in one unrolled CTE chain (the
    k-means/classifier recipe). Feeds mixture_sample /
    sample_temperature_lang as the learned-weights sibling of DSIR."""
    from whisper_pandas_spark.operators.doremi import doremi_weights

    _docs, losses = _doremi_losses(spark, sf_dir)
    hist = doremi_weights(losses, "source", "il", iters=_DOREMI_ITERS)
    return hist.select(
        "iter", F.col("domain").alias("source"), "w", "weight"
    ).orderBy("iter", "source")


# ---------------------------------------------------------------------------
# sample_doremi_mixture
# ---------------------------------------------------------------------------

_DRM_N_TARGET = 200
_DRM_SEED = 14


def _doremi_mixture_oracle() -> str:
    from whisper_pandas_spark.operators.classifier import training_replay_sql
    from whisper_pandas_spark.operators.doremi import (
        LOSS_SCALE,
        doremi_replay_sql,
    )

    chain = training_replay_sql(
        _DOREMI_FEATS_CTE, ["x0", "x1"], "y", _DOREMI_CLF_ITERS, 1.0
    )
    m = "w.w0 * f.x0 + w.w1 * f.x1 + w.wb"
    p = f"(0.5 * (1.0 + ({m}) / (1.0 + abs({m}))))"
    loss_cte = f"""loss_ AS MATERIALIZED (
  SELECT f.source AS domain,
    CAST(round(({p} - f.y) * ({p} - f.y) * {LOSS_SCALE}.0, 0) AS BIGINT)
      AS il
  FROM feats f CROSS JOIN w{_DOREMI_CLF_ITERS}_ w
)"""
    dchain = doremi_replay_sql("loss_", "domain", "il", _DOREMI_ITERS)
    return f"""{chain},
{loss_cte},
{dchain},
fin_ AS MATERIALIZED (
  SELECT domain, CAST(w AS BIGINT) AS w FROM hist WHERE iter = {_DOREMI_ITERS}
),
stot_ AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM fin_),
rts_ AS MATERIALIZED (
  SELECT f.domain, f.w,
    least(1.0, CAST({_DRM_N_TARGET} * f.w AS DOUBLE)
               / CAST((SELECT s FROM stot_) * d.n AS DOUBLE)) AS rate
  FROM fin_ f JOIN d0_ d USING (domain)
)
SELECT d.doc_id, d.source, r.w,
  round(r.rate + 1e-9, 6) AS sample_rate,
  CAST(('0x' || substr(md5('{_DRM_SEED}:' || CAST(d.doc_id AS VARCHAR)),
                       1, 8))::BIGINT AS DOUBLE)
    < r.rate * 4294967296.0 AS kept
FROM documents d JOIN rts_ r ON r.domain = d.source
ORDER BY d.doc_id
"""


@register("sample_doremi_mixture", oracle=_doremi_mixture_oracle())
def sample_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+/Y160b: the EXECUTION half of DoReMi — the learned domain
    weights (sample_doremi_weights' exact BIGINT trajectory, shared
    loss stage) turned into per-domain acceptance rates
    rate_d = min(1, N_target * w_d / (S * n_d)) and applied with the
    module-standard deterministic md5 gate. The rate is ONE correctly-
    rounded divide of two exact BIGINT products (num = N_target * w_d,
    den = S * n_d; both bounded far under 2^63 at any corpus this
    engine targets — S <= K * W_SCALE * 2^T), so the kept SET replays
    bit-for-bit. Plan: the weight recursion's bounded driver work +
    one broadcast rate join + a codegen md5 filter — the bulk never
    shuffles (the temperature_rebalance shape, with learned weights
    in place of sqrt-temperature ones)."""
    from whisper_pandas_spark.operators.doremi import doremi_weights
    from whisper_pandas_spark.operators.sampling import hash_bucket

    docs, losses = _doremi_losses(spark, sf_dir)
    hist = doremi_weights(losses, "source", "il", iters=_DOREMI_ITERS)
    fin = hist.filter(F.col("iter") == _DOREMI_ITERS).select(
        F.col("domain").alias("source"), "w"
    )
    counts = losses.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    stot = fin.agg(F.sum("w").alias("s"))
    rates = (
        fin.join(counts, "source")
        .crossJoin(F.broadcast(stot))
        .select(
            "source",
            "w",
            F.least(
                F.lit(1.0),
                (F.lit(_DRM_N_TARGET) * F.col("w")).cast("double")
                / (F.col("s") * F.col("n")).cast("double"),
            ).alias("rate"),
        )
    )
    u = hash_bucket(F.col("doc_id"), _DRM_SEED).cast("double")
    return (
        docs.join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "w",
            F.round(F.col("rate") + F.lit(1e-9), 6).alias("sample_rate"),
            (u < F.col("rate") * F.lit(float(BUCKET_SPACE))).alias("kept"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# profile_fd_check
# ---------------------------------------------------------------------------

_FD_ORACLE = """
WITH fd AS (
  SELECT 'nation.n_nationkey->n_regionkey' AS fd,
    CAST(n_nationkey AS BIGINT) AS lhs,
    CAST(n_regionkey AS BIGINT) AS rhs FROM nation
  UNION ALL
  SELECT 'orders.o_custkey->o_orderpriority',
    CAST(o_custkey AS BIGINT),
    CAST(length(o_orderpriority) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'lineitem.l_partkey->l_suppkey',
    CAST(l_partkey AS BIGINT), CAST(l_suppkey AS BIGINT)
  FROM lineitem
), per_key AS (
  SELECT fd, lhs, count(DISTINCT rhs) AS nd FROM fd GROUP BY fd, lhs
)
SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_keys,
  CAST(max(nd) AS BIGINT) AS max_distinct_rhs,
  (max(nd) = 1) AS holds
FROM per_key GROUP BY fd ORDER BY fd
"""


@register("profile_fd_check", oracle=_FD_ORACLE)
def profile_fd_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y174: functional-dependency profiling (the Deequ/Metanome
    op the profiling family lacked — [[benford/histogram/equidepth]]
    describe DISTRIBUTIONS; nothing checked DEPENDENCIES): for each
    candidate FD lhs->rhs, one groupBy(lhs) countDistinct(rhs) reports
    keys, violating keys, max fan-out and a holds verdict. Three
    candidates exercise both outcomes: nation->region HOLDS by
    construction; customer->priority and part->supplier are violated
    (many orders per customer, 4 suppliers per part in TPC-H). The
    rhs for the priority FD is integerized (length) so all three
    stack in one typed frame. Scale: each FD is a map-side-combined
    two-level aggregate over (fd, lhs) — the same shape at any size;
    no row ever carries more than the two profiled columns."""
    nation = table(spark, sf_dir, "nation").select(
        F.lit("nation.n_nationkey->n_regionkey").alias("fd"),
        F.col("n_nationkey").cast("long").alias("lhs"),
        F.col("n_regionkey").cast("long").alias("rhs"),
    )
    orders = table(spark, sf_dir, "orders").select(
        F.lit("orders.o_custkey->o_orderpriority").alias("fd"),
        F.col("o_custkey").cast("long").alias("lhs"),
        F.length("o_orderpriority").cast("long").alias("rhs"),
    )
    lineitem = table(spark, sf_dir, "lineitem").select(
        F.lit("lineitem.l_partkey->l_suppkey").alias("fd"),
        F.col("l_partkey").cast("long").alias("lhs"),
        F.col("l_suppkey").cast("long").alias("rhs"),
    )
    per_key = (
        nation.unionByName(orders)
        .unionByName(lineitem)
        .groupBy("fd", "lhs")
        .agg(F.countDistinct("rhs").alias("nd"))
    )
    return (
        per_key.groupBy("fd")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_keys"),
            F.max("nd").cast("bigint").alias("max_distinct_rhs"),
            (F.max("nd") == 1).alias("holds"),
        )
        .orderBy("fd")
    )
