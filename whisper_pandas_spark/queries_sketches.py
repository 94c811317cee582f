"""Registry entries: mergeable sketches — HLL, KLL, quantile, top-k,
KMV, count-min and Bloom — as batch rollups and as streaming replays
that maintain the same sketch state incrementally.

Each streaming replay shares its batch twin's oracle, so the hash gate
proves incremental maintenance lands on exactly the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, replay, table
from whisper_pandas_spark.functions.hashing import HASH_HEX_CHARS, duck_md5_int
from whisper_pandas_spark.stage import stage_materialize


# -- HLL sketch-table rollup ------------------------------------------------


@register(
    "sketch_distinct_rollup",
    """
SELECT event_type, count(DISTINCT user_id) AS n_distinct
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y44: the incremental sketch-table flow end-to-end — per-shard
    (event_type, user-bucket) HLL sketch tables unioned up to
    event_type (operators/sketches.py; raw data scanned once, the
    rollup touches only sketches). The oracle is the EXACT distinct
    count: DataSketches HLL stays in its exact sparse/coupon regime
    far above this fixture's max cardinality (1.5k at sf0.1) at
    lg_k=16, so shard->union->estimate must reproduce exact counts —
    value-checking the sketch PLUMBING; at production cardinality the
    same operator is approximate by design (pytest pins the 5% bound)."""
    from whisper_pandas_spark.operators.sketches import (
        hll_rollup_estimate,
        hll_shard_sketches,
    )

    ev = table(spark, sf_dir, "events").withColumn(
        "__shard", F.pmod(F.col("user_id"), F.lit(8))
    )
    shards = hll_shard_sketches(
        ev, ("event_type", "__shard"), "user_id", lg_k=16
    )
    return hll_rollup_estimate(shards, ("event_type",)).orderBy("event_type")


# -- mergeable quantile sketch tables ---------------------------------------

_HQ_BINS = 1024  # width 1 over [0, 1024): exact regime for n_chars
_HQ_QS = (0.25, 0.5, 0.75, 0.9)


@register(
    "sketch_quantile_rollup",
    f"""
WITH cnts AS (
  SELECT lang, n_chars AS v, count(*) AS c
  FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, v,
         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM cnts
), qs AS (SELECT unnest([{", ".join(str(q) for q in _HQ_QS)}]) AS q)
SELECT lang, q,
       CAST(min(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(q * n) THEN v END) AS DOUBLE)
         AS quantile
FROM cum CROSS JOIN qs
GROUP BY lang, q
ORDER BY lang, q
""",
)
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y44+: mergeable QUANTILE sketch tables (operators/sketches.py
    hist_* family) — per-(lang, shard) fixed-bin histograms over
    n_chars, merged element-wise to per-lang state, quantiles read off
    the merged counts. Bin width 1 over [0, 1024) puts integer n_chars
    in the EXACT regime, so the oracle replays the estimates
    value-for-value from raw data (smallest v with count(<= v) >=
    ceil(q·n), the sketch's own definition). The approximate-regime
    accuracy bound (error < one bin width) is pytest-pinned like the
    HLL entry."""
    from whisper_pandas_spark.operators.sketches import (
        hist_quantiles,
        hist_rollup,
        hist_shard_sketches,
    )

    docs = table(spark, sf_dir, "documents").withColumn(
        "__shard", F.pmod(F.col("doc_id"), F.lit(4))
    )
    shards = hist_shard_sketches(
        docs, ("lang", "__shard"), "n_chars", 0.0, float(_HQ_BINS), _HQ_BINS
    )
    merged = hist_rollup(shards, ("lang",))
    return hist_quantiles(
        merged, ("lang",), _HQ_QS, 0.0, float(_HQ_BINS), _HQ_BINS
    ).orderBy("lang", "q")


# -- streaming sketch-table maintenance --------------------------------------

_SSQ = (0.1, 0.5, 0.99)


@register(
    "stream_sketch_replay",
    f"""
WITH cnts AS (
  SELECT lang, n_chars AS v, count(*) AS c
  FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, v,
         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM cnts
), qs AS (SELECT unnest([{", ".join(str(q) for q in _SSQ)}]) AS q)
SELECT lang, q,
       CAST(min(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(q * n) THEN v END) AS DOUBLE)
         AS quantile
FROM cum CROSS JOIN qs
GROUP BY lang, q
ORDER BY lang, q
""",
)
def stream_sketch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming quantile-sketch maintenance
    (streaming/sketches.py:stream_sketch_update) replayed end-to-end —
    `documents` split into two change files streams through foreachBatch
    additive merges into the versioned sketch table (exactly-once via
    checkpoint-scoped batch markers; a replayed batch would otherwise
    double-count), then the final state is read back and quantiles
    taken off the merged counts. Exact regime (width-1 bins over
    integer n_chars), so the oracle recomputes the identical values
    from raw data — proving batch sketching, element-wise merge,
    version flips, AND the readout in one check."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import hist_quantiles
    from whisper_pandas_spark.streaming.sketches import stream_sketch_update

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d = replay(
        spark,
        [docs.filter(F.col("doc_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_sketch_update(
            sdf,
            f"{d}/state",
            ("lang",),
            "n_chars",
            0.0,
            float(_HQ_BINS),
            _HQ_BINS,
            checkpoint_dir=ckpt,
        ),
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    return hist_quantiles(
        state, ("lang",), _SSQ, 0.0, float(_HQ_BINS), _HQ_BINS
    ).orderBy("lang", "q")


# -- mergeable heavy-hitters sketch tables -----------------------------------

_TK_K = 5


@register(
    "sketch_topk_rollup",
    f"""
WITH c AS (
  SELECT event_type, user_id, count(*) AS n
  FROM events GROUP BY event_type, user_id
), r AS (
  SELECT event_type, user_id, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id) AS rnk
  FROM c
)
SELECT event_type, CAST(rnk AS INT) AS rnk, user_id AS item,
       CAST(n AS BIGINT) AS count_lo, CAST(n AS BIGINT) AS count_hi
FROM r WHERE rnk <= {_TK_K} ORDER BY event_type, rnk
""",
)
def sketch_topk_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y44++: mergeable HEAVY-HITTERS sketch tables
    (operators/sketches.py topk_* family) — per-(event_type, shard)
    truncated exact-count summaries over user_id, merged to per-type
    top-5 with two-sided bounds. Capacity exceeds per-shard distinct
    users here (the exact regime: rest_max = 0, lo == hi == true
    count), so the oracle is the plain relational top-k; truncated-
    regime bound correctness is pytest-pinned like the HLL/quantile
    recipes."""
    from whisper_pandas_spark.operators.sketches import (
        topk_rollup,
        topk_shard_sketches,
    )

    ev = table(spark, sf_dir, "events").withColumn(
        "__shard", F.pmod(F.col("event_id"), F.lit(4))
    )
    sk = topk_shard_sketches(
        ev, ("event_type", "__shard"), "user_id", capacity=1 << 20
    )
    return topk_rollup(sk, ("event_type",), _TK_K).orderBy(
        "event_type", "rnk"
    )


# -- KLL mergeable quantile sketch tables ------------------------------------

_KQ_QS = (0.05, 0.5, 0.95, 0.99)
_KQ_K = 8192  # level-0 capacity; documents stays in the exact regime
# (no compaction) through sf0.1, so shard -> merge -> read-off must
# reproduce the true quantiles — value-checking the sketch PLUMBING the
# same way sketch_distinct_rollup checks HLL in its sparse regime. The
# compacting regime's O(1/k) rank-error bound is pytest-pinned
# (tests/test_extensions.py::test_kll_rank_error_bound_in_compacting_regime).


@register(
    "sketch_kll_rollup",
    oracle=f"""
WITH cnts AS (
  SELECT lang, n_chars AS v, count(*) AS c
  FROM documents GROUP BY lang, n_chars
), cum AS (
  SELECT lang, v,
         sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM cnts
), qs AS (SELECT unnest([{", ".join(str(q) for q in _KQ_QS)}]) AS q)
SELECT lang, q,
       CAST(min(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= ceil(q * n) THEN v END) AS DOUBLE)
         AS quantile
FROM cum CROSS JOIN qs
GROUP BY lang, q
ORDER BY lang, q
""",
)
def sketch_kll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: KLL quantile sketch tables (operators/sketches.py kll_*
    family, Karnin-Lang-Liberty 2016) — the bounded-error mergeable
    quantile state for UNKNOWN value ranges, complementing the exact
    fixed-bin hist_* family (which needs a known [lo, hi) and
    resolution). Per-(lang, shard) sketches over n_chars merge to
    per-lang state; quantiles read off the merged ladder JVM-side
    (smallest value whose cumulative weight reaches ceil(q*n) — the
    family's shared definition, which the oracle replays from raw
    data)."""
    from whisper_pandas_spark.operators.sketches import (
        kll_merge,
        kll_quantiles,
        kll_shard_sketches,
    )

    docs = table(spark, sf_dir, "documents").withColumn(
        "__shard", F.pmod(F.col("doc_id"), F.lit(4))
    )
    shards = kll_shard_sketches(docs, ("lang", "__shard"), "n_chars", k=_KQ_K)
    merged = kll_merge(shards, ("lang",))
    return kll_quantiles(merged, ("lang",), _KQ_QS).orderBy("lang", "q")


# -- KMV set-operation sketches, driver-verified --------------------------------

_KMV_K = 64  # events has ~150 distinct users per type at sf0.01, so the
# sketch runs in its APPROXIMATE regime here — and the oracle still
# hash-matches, because the md5 bottom-k content and the estimator
# arithmetic are bit-deterministic on both engines. This is the property
# HLL can't offer (its entry needs the exact sparse regime).


@register(
    "sketch_kmv_setops",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv0:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
), bk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), sk AS (
  SELECT event_type, list(h ORDER BY h) AS hs
  FROM bk WHERE rn <= {_KMV_K} GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS key_a, b.event_type AS key_b,
         a.hs AS ha, b.hs AS hb,
         (list_sort(list_distinct(a.hs || b.hs)))[1:{_KMV_K}] AS u
  FROM sk a JOIN sk b ON a.event_type < b.event_type
), calc AS (
  SELECT key_a, key_b, ha, hb, u,
         CASE WHEN len(u) >= {_KMV_K}
              THEN ({_KMV_K} - 1.0) * 1152921504606846976.0
                   / CAST(u[{_KMV_K}] AS DOUBLE)
              ELSE CAST(len(u) AS DOUBLE) END AS union_est,
         CAST(len(list_filter(u,
               x -> list_contains(ha, x) AND list_contains(hb, x)))
              AS DOUBLE) / CAST(len(u) AS DOUBLE) AS jaccard
  FROM pairs
)
SELECT key_a, key_b,
       round(union_est + 1e-9, 6) AS union_est,
       round(jaccard + 1e-9, 6) AS jaccard,
       round(jaccard * union_est + 1e-9, 6) AS inter_est
FROM calc ORDER BY key_a, key_b
""",
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: KMV / bottom-k theta set-operation sketches
    (operators/sketches.py kmv_*, Bar-Yossef et al. 2002 / the
    DataSketches theta family) — the mergeable-summary capability HLL
    lacks: union, INTERSECTION and Jaccard cardinalities across groups.
    Per-(event_type, shard) sketches of the user_id set merge to
    per-type state (bottom-k mergeability is exact, bit-asserted in
    pytest), then every type pair gets union/jaccard/intersection
    estimates. Built on the cross-engine md5 hash family, so the
    APPROXIMATE estimates themselves replay bit-for-bit in DuckDB —
    the estimator, not just the plumbing, sits under the hash gate."""
    from whisper_pandas_spark.operators.sketches import (
        kmv_pair_ops,
        kmv_rollup,
        kmv_shard_sketches,
    )

    ev = table(spark, sf_dir, "events").withColumn(
        "__shard", F.pmod(F.col("user_id"), F.lit(4))
    )
    shards = kmv_shard_sketches(
        ev, ("event_type", "__shard"), "user_id", k=_KMV_K
    )
    # the merged sketch IS the persistable state table (group-count-sized);
    # materialize it once so the pairwise self-join reads state rather
    # than recomputing the raw-data pipeline on both sides — exactly what
    # a deployment does by writing the sketch table to parquet
    merged = stage_materialize(kmv_rollup(shards, ("event_type",)))
    ops = kmv_pair_ops(merged, "event_type")
    eps = F.lit(1e-9)
    return ops.select(
        "key_a",
        "key_b",
        F.round(F.col("union_est") + eps, 6).alias("union_est"),
        F.round(F.col("jaccard") + eps, 6).alias("jaccard"),
        F.round(F.col("inter_est") + eps, 6).alias("inter_est"),
    ).orderBy("key_a", "key_b")


# -- streaming KMV maintenance, driver-verified ---------------------------------


@register(
    "stream_kmv_replay",
    oracle=f"""
WITH h AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv0:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
), bk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
), sk AS (
  SELECT event_type,
         CAST(count(*) AS INT) AS n_kept,
         min(h) AS h_min, max(h) AS h_kth
  FROM bk WHERE rn <= {_KMV_K} GROUP BY event_type
)
SELECT event_type, n_kept,
       CASE WHEN n_kept >= {_KMV_K}
            THEN round(({_KMV_K} - 1.0) * 1152921504606846976.0
                       / CAST(h_kth AS DOUBLE) + 1e-9, 6)
            ELSE CAST(n_kept AS DOUBLE) END AS n_distinct_est,
       h_min, h_kth
FROM sk ORDER BY event_type
""",
)
def stream_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+/Y66: streaming KMV maintenance
    (streaming/sketches.py:stream_kmv_update) replayed end-to-end —
    `events` split into two files streams through foreachBatch
    set-union merges into the versioned sketch state. The KMV merge is
    IDEMPOTENT (replayed batches cannot corrupt the state, asserted in
    tests), so unlike the additive histogram stream this maintenance is
    safe under at-least-once delivery. Final state summarized as
    (n_kept, distinct estimate, min/k-th hash) — the oracle recomputes
    the identical bottom-k from raw data, proving batch sketching,
    union merge, version flips AND the estimator in one hash check."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_kmv_update

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    d = replay(
        spark,
        [ev.filter(F.col("user_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_kmv_update(
            sdf,
            f"{d}/state",
            ("event_type",),
            "user_id",
            k=_KMV_K,
            checkpoint_dir=ckpt,
        ),
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    kk = F.col("k")
    full = F.size("hs") >= kk
    est = F.when(
        full,
        F.round(
            (kk.cast("double") - 1.0)
            * F.lit(1152921504606846976.0)
            / F.element_at("hs", kk).cast("double")
            + F.lit(1e-9),
            6,
        ),
    ).otherwise(F.size("hs").cast("double"))
    return state.select(
        "event_type",
        F.size("hs").cast("int").alias("n_kept"),
        est.alias("n_distinct_est"),
        F.element_at("hs", 1).alias("h_min"),
        F.element_at("hs", F.least(kk, F.size("hs"))).alias("h_kth"),
    ).orderBy("event_type")


# -- count-min sketch ---------------------------------------------------------

_CMS_D = 3
_CMS_W = 128
_CMS_BUCKETS = 1000  # item space: user_id % 1000 >> width, so collisions
_CMS_PROBES = 20


def _cms_duck_hash_rowvar(value_sql: str, width: int) -> str:
    """The cms_duck_hash construction with the seed taken from the
    ``rows_`` CTE's ``r.row`` column instead of a literal (seed*depth+r
    with seed=0 is just r) — same md5 input string, same collisions."""
    h = duck_md5_int(
        f"'cms' || CAST(r.row AS VARCHAR) || ':' || CAST({value_sql} AS VARCHAR)",
        HASH_HEX_CHARS,
    )
    return f"CAST({h} % {width} AS INT)"


def _cms_oracle() -> str:
    d, w, nb, np_ = _CMS_D, _CMS_W, _CMS_BUCKETS, _CMS_PROBES
    return f"""
WITH items AS (
  SELECT user_id % {nb} AS item FROM events WHERE user_id IS NOT NULL
),
rows_ AS (SELECT CAST(i AS INT) AS row FROM generate_series(0, {d - 1}) t(i)),
cells AS (
  SELECT r.row,
         {_cms_duck_hash_rowvar("item", w)} AS col,
         count(*) AS cnt
  FROM items, rows_ r GROUP BY 1, 2
),
probes AS (
  SELECT CAST(i AS BIGINT) AS bucket FROM generate_series(0, {np_ - 1}) t(i)
),
est AS (
  SELECT p.bucket, min(coalesce(c.cnt, 0)) AS est
  FROM probes p CROSS JOIN rows_ r
  LEFT JOIN cells c ON c.row = r.row AND c.col =
    {_cms_duck_hash_rowvar("p.bucket", w)}
  GROUP BY 1
),
exact AS (SELECT item AS bucket, count(*) AS cnt FROM items GROUP BY 1)
SELECT p.bucket, e.est, coalesce(x.cnt, 0) AS exact
FROM probes p JOIN est e USING (bucket) LEFT JOIN exact x USING (bucket)
ORDER BY bucket
"""


@register("sketch_cms_estimate", oracle=_cms_oracle())
def sketch_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family +: count-min (Cormode-Muthukrishnan 2005) point
    frequencies (operators/sketches.py:cms_*).  Per-event-type shard
    sketches over the user-bucket stream (user_id % 1000 — 1000 items
    into width 128, so collisions are GUARANTEED and some estimates
    overcount), merged to one global sketch by the elementwise-sum law,
    then probed for buckets 0..19 with the exact truth joined alongside.
    Because the hash family is the cross-engine md5 construction and
    every counter is an exact BIGINT sum, the APPROXIMATE estimates —
    overcounts included — replay bit-for-bit in the oracle; est >= exact
    holds row-for-row by the CMS one-sided-error law.  Scale: the only
    raw-data exchange is the (groups x d x w)-bounded cell aggregation
    (map-side combine absorbs hot items); rollup and probe touch sketch
    cells only."""
    from whisper_pandas_spark.operators.sketches import (
        cms_estimate,
        cms_rollup,
        cms_shard_sketches,
    )

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    items = ev.select(
        F.col("event_type").alias("scope"),
        (F.col("user_id") % _CMS_BUCKETS).alias("item"),
    )
    shards = cms_shard_sketches(
        items, ("scope",), "item", depth=_CMS_D, width=_CMS_W
    )
    merged = cms_rollup(
        shards.withColumn("scope", F.lit("all")), ("scope",)
    )
    probes = spark.range(_CMS_PROBES).select(F.col("id").alias("item"))
    est = cms_estimate(
        merged, ("scope",), probes, "item", depth=_CMS_D, width=_CMS_W
    ).select(F.col("item").alias("bucket"), "est")
    exact = (
        items.join(F.broadcast(probes), "item")
        .groupBy(F.col("item").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "bucket", "left")
        .select(
            "bucket", "est", F.coalesce("exact", F.lit(0)).alias("exact")
        )
        .orderBy("bucket")
    )


# -- streaming CMS maintenance -------------------------------------------------


def _stream_cms_oracle() -> str:
    # the streaming state merged over all batches equals the direct build
    # over all raw rows (CMS merge law) — so the oracle is the batch
    # recompute of the same estimates, exact truth alongside
    return _cms_oracle()


@register("stream_cms_replay", oracle=_stream_cms_oracle())
def stream_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming count-min maintenance (streaming/sketches.py:
    stream_cms_update) replayed end-to-end — the user-bucket stream
    split into two change files streams through foreachBatch
    elementwise-sum merges into the versioned CMS state (exactly-once
    via checkpoint-scoped batch markers; the merge is additive, so a
    replayed batch would double-count), then point estimates for
    buckets 0..19 are read off the FINAL state with the exact truth
    joined alongside.  The CMS merge law makes state == direct build
    bit-for-bit, so this shares `sketch_cms_estimate`'s oracle — one
    hash gate proving batch sketching, additive merge, version flips,
    AND the probe readout."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import cms_estimate
    from whisper_pandas_spark.streaming.sketches import stream_cms_update

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    items = ev.select(
        F.lit("all").alias("scope"),
        F.col("event_id"),
        (F.col("user_id") % _CMS_BUCKETS).alias("item"),
    )
    d = replay(
        spark,
        [items.filter(F.col("event_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_cms_update(
            sdf,
            f"{d}/state",
            ("scope",),
            "item",
            depth=_CMS_D,
            width=_CMS_W,
            checkpoint_dir=ckpt,
        ),
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    probes = spark.range(_CMS_PROBES).select(F.col("id").alias("item"))
    est = cms_estimate(
        state, ("scope",), probes, "item", depth=_CMS_D, width=_CMS_W
    ).select(F.col("item").alias("bucket"), "est")
    exact = (
        items.join(F.broadcast(probes), "item")
        .groupBy(F.col("item").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, "bucket", "left")
        .select(
            "bucket", "est", F.coalesce("exact", F.lit(0)).alias("exact")
        )
        .orderBy("bucket")
    )


# -- Bloom filter membership ----------------------------------------------------

_BLOOM_K = 3
_BLOOM_M = 4096
_BLOOM_SPREAD = 25  # items live on a sparse lattice so most probes are absent
_BLOOM_PROBES = 40


def _bloom_oracle() -> str:
    from whisper_pandas_spark.operators.sketches import bloom_duck_hash

    k, m, sp, np_ = _BLOOM_K, _BLOOM_M, _BLOOM_SPREAD, _BLOOM_PROBES
    return f"""
WITH items AS (
  SELECT DISTINCT (user_id % 1000) * {sp} AS item
  FROM events WHERE user_id IS NOT NULL
),
seeds AS (SELECT CAST(i AS INT) AS s FROM generate_series(0, {k - 1}) t(i)),
bits AS (
  SELECT DISTINCT {bloom_duck_hash("i.item", "s.s", m)} AS bit
  FROM items i, seeds s
),
probes AS (
  SELECT CAST(i AS BIGINT) AS item FROM generate_series(0, {np_ - 1}) t(i)
),
pbits AS (
  SELECT DISTINCT p.item, {bloom_duck_hash("p.item", "s.s", m)} AS bit
  FROM probes p, seeds s
),
nb AS (SELECT item, count(*) AS nbits FROM pbits GROUP BY item),
hits AS (
  SELECT p.item,
         CAST(sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BIGINT)
           AS n_hits
  FROM pbits p LEFT JOIN bits b ON b.bit = p.bit
  GROUP BY p.item
)
SELECT 'all' AS scope, h.item, h.n_hits,
       h.n_hits = nb.nbits AS maybe_present,
       coalesce(x.present, FALSE) AS truly_present
FROM hits h
JOIN nb USING (item)
LEFT JOIN (SELECT item, TRUE AS present FROM items) x USING (item)
ORDER BY item
"""


@register("sketch_bloom_membership", oracle=_bloom_oracle())
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family +: Bloom filter membership (Bloom 1970 — the sketch
    Dolma-style streaming dedup runs at corpus scale;
    operators/sketches.py:bloom_*).  Per-event-type shard filters over
    the sparse user-bucket lattice (user_id % 1000, spread x25 so most
    of the probe range is truly absent), merged to one global filter by
    the set-union law (idempotent — replay-safe with NO exactly-once
    machinery, the structural contrast to the additive CMS), probed for
    items 0..39 with the exact truth joined alongside.  The md5 hash
    family is cross-engine, so the probe verdicts — false positives
    included — replay bit-for-bit; maybe_present is never false for a
    truly present item (one-sided error, pytest-pinned).  Scale: the
    only raw-data exchange is the distinct on (group, bit), bounded by
    groups x m rows with map-side combine; rollup and probes touch
    sketch rows only."""

    from whisper_pandas_spark.operators.sketches import (
        bloom_contains,
        bloom_rollup,
        bloom_shard_sketches,
    )

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    items = ev.select(
        F.col("event_type").alias("scope"),
        ((F.col("user_id") % 1000) * _BLOOM_SPREAD).alias("item"),
    )
    shards = bloom_shard_sketches(
        items, ("scope",), "item", k=_BLOOM_K, m=_BLOOM_M
    )
    merged = bloom_rollup(
        shards.withColumn("scope", F.lit("all")), ("scope",)
    )
    probes = spark.range(_BLOOM_PROBES).select(F.col("id").alias("item"))
    got = bloom_contains(
        merged, ("scope",), probes, "item", k=_BLOOM_K, m=_BLOOM_M
    )
    truth = (
        items.select("item").distinct().withColumn("__t", F.lit(True))
    )
    return (
        got.join(truth, "item", "left")
        .select(
            "scope",
            "item",
            "n_hits",
            "maybe_present",
            F.coalesce(F.col("__t"), F.lit(False)).alias("truly_present"),
        )
        .orderBy("item")
    )


# -- streaming Bloom maintenance -------------------------------------------------


def _stream_bloom_oracle() -> str:
    # state merged over all batches — AND deliberately re-merged over a
    # full reprocess — equals the direct build (union-distinct is
    # idempotent), so the oracle is the batch recompute of the same
    # membership verdicts
    return _bloom_oracle()


@register("stream_bloom_replay", oracle=_stream_bloom_oracle())
def stream_bloom_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming Bloom maintenance (streaming/sketches.py:
    stream_bloom_update) replayed end-to-end — the sparse item lattice
    streams through foreachBatch union-distinct merges into the
    versioned filter state, and then the WHOLE stream is deliberately
    reprocessed by a second query under a fresh checkpoint (a new
    stream id, so no batch marker covers it and every batch is a
    replay): the idempotent merge law keeps the final state equal to
    the direct build — which is exactly what the shared batch oracle
    hash-gates (the structural contrast to `stream_cms_replay`, whose
    additive merge REQUIRES a checkpoint).  Probes 0..39 read
    membership verdicts off the final state with the exact truth joined
    alongside."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import bloom_contains
    from whisper_pandas_spark.streaming.sketches import stream_bloom_update

    ev = table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    items = ev.select(
        F.lit("all").alias("scope"),
        F.col("event_id"),
        ((F.col("user_id") % 1000) * _BLOOM_SPREAD).alias("item"),
    )
    # the second pass reprocesses the whole stream under a FRESH
    # checkpoint: every batch re-merges into the existing state —
    # harmless by idempotence, proven by the hash
    d = replay(
        spark,
        [items.filter(F.col("event_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_bloom_update(
            sdf,
            f"{d}/state",
            ("scope",),
            "item",
            k=_BLOOM_K,
            m=_BLOOM_M,
            checkpoint_dir=ckpt,
        ),
        passes=2,
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    probes = spark.range(_BLOOM_PROBES).select(F.col("id").alias("item"))
    got = bloom_contains(
        state, ("scope",), probes, "item", k=_BLOOM_K, m=_BLOOM_M
    )
    truth = (
        items.select("item").distinct().withColumn("__t", F.lit(True))
    )
    return (
        got.join(truth, "item", "left")
        .select(
            "scope",
            "item",
            "n_hits",
            "maybe_present",
            F.coalesce(F.col("__t"), F.lit(False)).alias("truly_present"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# sketch_hll_rollup
# ---------------------------------------------------------------------------
# Two scopes through ONE sketch pass so both estimate regimes are
# value-gated: 'prio:*' groups count ~1300 distinct customers (raw
# harmonic-mean regime) and 'status:*' groups count 5 distinct
# priorities (small-range linear-counting regime, V > 0).

_HLL_M = 64


def _hll_oracle() -> str:
    from whisper_pandas_spark.operators.hll import hll_alpha, hll_duck_hash

    m = _HLL_M
    amm = repr(hll_alpha(m) * m * m)
    mask = (1 << 55) - 1
    return f"""
WITH items AS (
  SELECT 'prio:' || o_orderpriority AS grp, CAST(o_custkey AS VARCHAR) AS val
  FROM orders
  UNION ALL
  SELECT 'status:' || o_orderstatus AS grp, o_orderpriority AS val
  FROM orders
), hashed AS (
  SELECT grp, {hll_duck_hash('val')} AS h FROM items
), rho AS (
  SELECT grp, h % {m} AS bucket,
    CASE WHEN h // {m} = 0 THEN 55
         ELSE bit_count(((h // {m}) & -(h // {m})) - 1) + 1 END AS rho
  FROM hashed
), regs AS (
  SELECT grp, bucket, max(rho) AS reg FROM rho GROUP BY grp, bucket
), lattice AS (
  SELECT g.grp, t.j AS bucket
  FROM (SELECT DISTINCT grp FROM items) g CROSS JOIN range(0, {m}) t(j)
), dense AS (
  SELECT l.grp, array_agg(coalesce(r.reg, 0) ORDER BY l.bucket) AS regs
  FROM lattice l LEFT JOIN regs r
    ON r.grp = l.grp AND r.bucket = l.bucket
  GROUP BY l.grp
), est0 AS (
  SELECT grp,
    CAST(len(list_filter(regs, r -> r = 0)) AS INT) AS n_zero_regs,
    list_reduce(list_prepend(0::BIGINT, regs),
      (a, r) -> (a * 31 + r) & {mask}) AS reg_checksum,
    {amm} / list_reduce(
      list_prepend(0.0::DOUBLE,
        list_transform(regs, r -> 1.0 / CAST(1::BIGINT << r AS DOUBLE))),
      (a, x) -> a + x) AS raw,
    len(list_filter(regs, r -> r = 0)) AS v
  FROM dense
), est AS (
  SELECT grp, n_zero_regs, reg_checksum,
    round(CASE WHEN raw <= {2.5 * m!r} AND v > 0
               THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
               ELSE raw END, 6) AS est
  FROM est0
), exact AS (
  SELECT grp, count(DISTINCT val) AS n_exact FROM items GROUP BY grp
)
SELECT e.grp, e.n_zero_regs, e.reg_checksum, e.est, x.n_exact
FROM est e JOIN exact x ON e.grp = x.grp
ORDER BY e.grp
"""


def _hll_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        F.concat(F.lit("prio:"), "o_orderpriority").alias("grp"),
        F.col("o_custkey").cast("string").alias("val"),
    ).unionByName(
        orders.select(
            F.concat(F.lit("status:"), "o_orderstatus").alias("grp"),
            F.col("o_orderpriority").alias("val"),
        )
    )


@register("sketch_hll_rollup", oracle=_hll_oracle())
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch family +: HyperLogLog (Flajolet et al. 2007) — the
    idempotent element-wise-MAX merge law, completing the repo's merge-
    law matrix (operators/hll.py). The md5 hash family is cross-engine,
    so registers AND the floating estimates replay bit-for-bit: the
    harmonic sum folds registers in bucket order with exact power-of-two
    terms, and the small-range linear-counting branch is exercised by
    the low-cardinality 'status:*' scopes. Scale: one (grp, bucket)
    partial-agg exchange bounded by groups x m rows; estimates touch
    only m-element arrays."""
    from whisper_pandas_spark.operators.hll import (
        hll_estimate,
        hll_rollup,
        hll_shard_sketches,
    )

    items = _hll_items(spark, sf_dir)
    sk = hll_rollup(
        hll_shard_sketches(items, ("grp",), "val", m=_HLL_M), ("grp",)
    )
    est = hll_estimate(sk, ("grp",), m=_HLL_M)
    exact = items.groupBy("grp").agg(
        F.countDistinct("val").alias("n_exact")
    )
    return est.join(exact, "grp").orderBy("grp")


# ---------------------------------------------------------------------------
# stream_hll_replay
# ---------------------------------------------------------------------------


@register("stream_hll_replay", oracle=_hll_oracle())  # the batch oracle
def stream_hll_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming HLL maintenance (streaming/sketches.py:
    stream_hll_update) replayed end-to-end — per-batch sketches MAX-
    merged into versioned register state, then the WHOLE stream
    deliberately reprocessed by a second pass under a fresh checkpoint
    (a new stream id, so no batch marker covers it): the
    idempotent merge law means the double-processed state still equals
    the direct batch build, which is exactly what the shared batch
    oracle hash-gates (the distinct-count sibling of
    stream_bloom_replay; contrast stream_cms_replay, whose additive
    merge requires exactly-once markers)."""
    from whisper_pandas_spark.operators.hll import hll_estimate
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_hll_update

    items = _hll_items(spark, sf_dir).withColumn(
        "row_id", F.monotonically_increasing_id()
    )
    # the second pass reprocesses the whole stream under a FRESH
    # checkpoint: harmless by idempotence
    d = replay(
        spark,
        [items.filter(F.col("row_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_hll_update(
            sdf, f"{d}/state", ("grp",), "val", m=_HLL_M, checkpoint_dir=ckpt
        ),
        passes=2,
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    est = hll_estimate(state, ("grp",), m=_HLL_M)
    exact = _hll_items(spark, sf_dir).groupBy("grp").agg(
        F.countDistinct("val").alias("n_exact")
    )
    return est.join(exact, "grp").orderBy("grp")
