"""Deterministic hash-based sampling and dataset splits (LLM-pipeline).

A 100 TB training-data pipeline cannot use `df.sample()` for anything
that must be REPRODUCIBLE or CONSISTENT across runs and engines:
Bernoulli sampling is seeded per-partition, so adding one file upstream
reshuffles every decision. The standard fix is content-keyed hashing —
each row's fate is a pure function of a stable key:

- same key → same bucket, on any engine, any partitioning, any day;
- sampling composes with incremental ingestion (yesterday's decisions
  never flip);
- train/test splits stay leak-free under joins: every row of a given
  document lands on the same side.

`md5` is used as the hash (not xxhash/crc) because every engine speaks
it bit-identically — the same reason the dedup family uses it
(operators/dedup.py). Cost is one codegen hash per row, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import duck_md5_int, md5_int

#: 16^8 — the hash bucket space (first 8 md5 hex chars).
BUCKET_SPACE = 1 << 32


def hash_bucket(key: Column, seed: int = 0) -> Column:
    """Uniform bucket in [0, 2^32) from md5(seed:key) — deterministic,
    engine-portable (DuckDB twin: :func:`duck_hash_bucket`). A NULL key
    has no bucket (NULL), as in DuckDB: every comparison with it is
    false, so samplers drop the row and :func:`split_assign` puts it in
    ``train``."""
    return md5_int(F.concat(F.lit(f"{seed}:"), key), 8)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Keep ~`fraction` of rows, decided by the key hash alone.

    Unlike ``df.sample``, re-running on re-partitioned / appended data
    keeps exactly the same rows (modulo new keys).
    """
    threshold = int(fraction * BUCKET_SPACE)
    return df.filter(hash_bucket(F.col(key_col), seed) < threshold)


def split_assign(
    df: DataFrame,
    key_col: str,
    test_fraction: float = 0.1,
    val_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Add a ``split`` column ('train' / 'val' / 'test') keyed on the
    row's stable key — the leak-free train/test split at any scale.

    Bucket layout: [0, test) → test, [test, test+val) → val, rest train.
    """
    b = hash_bucket(F.col(key_col), seed)
    t = int(test_fraction * BUCKET_SPACE)
    v = t + int(val_fraction * BUCKET_SPACE)
    return df.withColumn(
        "split",
        F.when(b < t, F.lit("test"))
        .when(b < v, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — `df.sampleBy`'s reproducible
    twin (language rebalancing, source capping). Each stratum gets its
    own bucket threshold; strata not listed get `default_fraction`.
    Same hash ⇒ composing with :func:`hash_sample` or
    :func:`split_assign` on the SAME seed correlates decisions — use
    distinct seeds for independent draws.
    """
    thr: Column = F.lit(int(default_fraction * BUCKET_SPACE))
    for value, frac in sorted(fractions.items()):
        thr = (
            F.when(F.col(strata_col) == value, F.lit(int(frac * BUCKET_SPACE)))
            .otherwise(thr)
        )
    return df.filter(hash_bucket(F.col(key_col), seed) < thr)


def per_group_quota(
    df: DataFrame, group_col: str, order_col: str, quota: int
) -> DataFrame:
    """Cap each group at its first *quota* rows in *order_col* order —
    source/domain balancing (no single crawl domain may dominate the
    corpus). Deterministic: the kept set is a pure function of the data.

    Scale: rank-then-filter compiles to WindowGroupLimit, which prunes
    each group to *quota* rows map-side BEFORE the shuffle (per-partition
    top-k), so a hot group moves ~quota rows per input partition, not its
    full bulk — the window-skew ceiling the as-of join needs bucketing
    for does not apply here."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= quota)
        .drop("__rn")
    )


def duck_hash_bucket(key_sql: str, seed: int = 0) -> str:
    """DuckDB expression equal to :func:`hash_bucket` bit-for-bit."""
    return duck_md5_int(f"'{seed}:' || {key_sql}", 8)


def deterministic_shuffle(
    df: DataFrame, key_col: str, seed: int = 0
) -> DataFrame:
    """Global reproducible training-order shuffle: sort by
    ``hash_bucket(key, seed)`` (ties broken by the key itself). Epoch N
    uses seed N — each epoch is a different but REPRODUCIBLE permutation,
    stable across partitioning, engines, and runs, unlike
    ``orderBy(rand(seed))`` whose draws are partition-seeded.

    Scale: one range-partitioned sort (the usual pre-training global
    shuffle job); downstream sharded writes inherit the order. The sort
    key is 8 bytes/row — no payload amplification in the exchange.
    """
    return df.orderBy(hash_bucket(F.col(key_col), seed), F.col(key_col))


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    quotas: dict[str, int],
    weight_col: str,
    key_col: str,
    seed: int = 0,
    coarse_bits: int = 12,
) -> DataFrame:
    """Greedy per-domain token-budget sampling — the data-mixture step of
    a pre-training pipeline (e.g. "30% web, 30% code, 40% books" turned
    into per-domain token budgets by :func:`mixture_quotas`).

    Semantics (what the oracle replicates with ONE window): within each
    domain, walk the rows in ``hash_bucket(key, seed)`` order and keep a
    row iff the summed ``weight_col`` of the rows BEFORE it is still
    under the domain's quota — i.e. keep the shortest deterministic
    hash-prefix covering the budget (overshoot ≤ one row). Domains
    absent from *quotas* are dropped. Decisions are content-keyed, so
    re-running on re-partitioned or incrementally-grown data never flips
    a kept row that still fits its prefix.

    Scale: the naive form is a full sort per domain — ONE ordering
    window over each domain's entire bulk, exactly the single-partition
    skew ceiling a 100 TB corpus with 5 domains cannot pay. This
    implementation is two-phase and never globally sorts a domain:

    1. coarse pass — bucket the hash into ``2**coarse_bits`` ranges and
       aggregate per (domain, bucket) weights (one partial-agg shuffle
       of ``domains x 2^bits`` ROWS, not bytes of text); a window over
       that SMALL frame classifies each bucket as fully-kept (prefix
       weight + bucket weight <= quota), fully-dropped (prefix weight
       already >= quota), or THE boundary bucket (at most one per
       domain).
    2. exact pass — rows in kept buckets pass through via one broadcast
       semi-join; only the boundary bucket's rows (expected bulk /
       2^coarse_bits) get the exact within-bucket ordering window,
       offset by the coarse prefix weight.

    Buckets are hash-prefix ranges, so bucket order IS global hash
    order and the two-phase result is exactly the single-window greedy
    prefix. Raise *coarse_bits* until bulk / 2^bits fits one task.
    """
    from pyspark.sql import Window

    if not quotas:
        raise ValueError("quotas must be non-empty")
    shift = 32 - coarse_bits
    quota_col: Column = F.lit(None).cast("long")
    for dom, q in sorted(quotas.items()):
        quota_col = F.when(F.col(domain_col) == dom, F.lit(int(q))).otherwise(
            quota_col
        )
    base = (
        df.filter(F.col(domain_col).isin(*quotas.keys()))
        .withColumn("__h", hash_bucket(F.col(key_col), seed))
        .withColumn("__b", F.shiftright(F.col("__h"), shift))
    )
    per_bucket = base.groupBy(domain_col, "__b").agg(
        F.sum(weight_col).alias("__t")
    )
    cw = (
        Window.partitionBy(domain_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    classified = (
        per_bucket.withColumn(
            "__before", F.coalesce(F.sum("__t").over(cw), F.lit(0))
        )
        .withColumn("__q", quota_col)
        .withColumn(
            "__cls",
            # strict <: a bucket that exactly fills the quota goes to the
            # exact path — its trailing ZERO-weight rows have prefix ==
            # quota and must drop, which only the per-row window sees
            F.when(F.col("__before") >= F.col("__q"), F.lit("drop"))
            .when(
                F.col("__before") + F.col("__t") < F.col("__q"), F.lit("keep")
            )
            .otherwise(F.lit("edge")),
        )
    )
    cls = F.broadcast(
        classified.filter(F.col("__cls") != "drop").select(
            domain_col, "__b", "__before", "__cls"
        )
    )
    tagged = base.join(cls, [domain_col, "__b"])
    kept_whole = tagged.filter(F.col("__cls") == "keep")
    ew = (
        Window.partitionBy(domain_col)
        .orderBy("__h", key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boundary = (
        tagged.filter(F.col("__cls") == "edge")
        .withColumn(
            "__ebefore",
            F.col("__before")
            + F.coalesce(F.sum(weight_col).over(ew), F.lit(0)),
        )
        .filter(F.col("__ebefore") < quota_col)
        .drop("__ebefore")
    )
    return kept_whole.unionByName(boundary).select(*df.columns)


def mixture_quotas(
    weights: dict[str, float], total: int
) -> dict[str, int]:
    """Turn mixture *weights* (any positive scale) into integer
    per-domain budgets summing exactly to *total* — largest-remainder
    apportionment, ties broken by domain name for determinism."""
    if total < 0 or not weights or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative, total >= 0")
    s = float(sum(weights.values()))
    if s <= 0:
        raise ValueError("at least one weight must be positive")
    raw = {d: total * w / s for d, w in weights.items()}
    floors = {d: int(v) for d, v in raw.items()}
    short = total - sum(floors.values())
    order = sorted(raw, key=lambda d: (-(raw[d] - floors[d]), d))
    for d in order[:short]:
        floors[d] += 1
    return floors


def weighted_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of *k* rows —
    Efraimidis-Spirakis A-Res with DETERMINISTIC randomness: each row
    draws u = (md5 bucket + 1) / 2^32 in (0, 1] from its key and ranks
    by u^(1/w) (equivalently exp(ln(u)/w)), and the k largest keys win.
    Inclusion probability is proportional to weight at every prefix, the
    draw is a pure function of (key, seed) — reproducible across runs,
    engines, and partitionings — and changing one row's weight never
    perturbs another row's draw (the property quality-weighted corpus
    sampling needs for incremental re-runs).

    Zero/negative weights never win (rank key 0). The top-k compiles to
    TakeOrderedAndProject — per-partition heads of size k, no global
    sort. Returns the sampled rows plus ``rank_key``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (hash_bucket(F.col(key_col), seed) + 1).cast("double") / F.lit(
        float(BUCKET_SPACE)
    )
    w = F.col(weight_col).cast("double")
    rank_key = F.when(w > 0, F.exp(F.log(u) / w)).otherwise(F.lit(0.0))
    # order by the UNROUNDED key (large weights compress keys to within
    # 1e-12 of each other — rounding first would flip near-tie selection
    # against the oracle, which also ranks unrounded); round only the
    # reported column
    return (
        df.withColumn("__rk", rank_key)
        .orderBy(F.col("__rk").desc(), F.col(key_col))
        .limit(k)
        .withColumn("rank_key", F.round(F.col("__rk"), 12))
        .drop("__rk")
    )


def quality_temperature_sample(
    df: DataFrame,
    key_col: str,
    quality_col: str,
    inv_temperature: int = 2,
    seed: int = 0,
) -> DataFrame:
    """Quality-weighted IMPORTANCE sampling with an integer temperature:
    keep each row with probability ``quality^inv_temperature`` (quality
    in [0, 1]; ``inv_temperature`` = 1/T, so 2 = sharpen toward
    high-quality docs, 1 = proportional, higher = sharper) — the
    standard curation move for up-weighting high-quality text without a
    hard threshold.

    Deterministic and engine-exact: the uniform draw is the md5 bucket
    of the key (re-runs/appends keep decisions stable, like every
    sampler here), and the acceptance test is pure INTEGER arithmetic —
    quality quantized to millionths, both sides of

        u * 10^(6*p)  <  qm^p * 2^32      (p = inv_temperature)

    folded through DECIMAL(38,0) — so no pow()/exp() ever runs and the
    kept set replays bit-for-bit in DuckDB (pow is exp∘ln on most
    engines and NOT cross-engine stable). p <= 4 keeps both sides
    under DECIMAL(38)'s range (u*10^24 < 4.3e33, qm^4*2^32 < 4.3e33).
    One scan, zero shuffles."""
    if not 1 <= inv_temperature <= 4:
        raise ValueError("inv_temperature must be in [1, 4]")
    u = hash_bucket(F.col(key_col), seed).cast("decimal(38,0)")
    qm = F.round(F.col(quality_col) * 1_000_000, 0).cast("decimal(38,0)")
    p = inv_temperature
    # 10^(6p) exceeds a Java long at p >= 4 — route big literals through
    # an explicit DECIMAL cast expression
    lhs = u * F.expr(f"CAST({10 ** (6 * p)} AS DECIMAL(38,0))")
    rhs = F.expr("CAST(1 AS DECIMAL(38,0))")
    for _ in range(p):
        rhs = rhs * qm
    rhs = rhs * F.expr(f"CAST({BUCKET_SPACE} AS DECIMAL(38,0))")
    return df.filter(lhs < rhs)


def temperature_rebalance(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_target: int,
    seed: int = 0,
) -> DataFrame:
    """UniMax/mT5-style LANGUAGE (group) temperature rebalancing with
    tau = 2: derive per-group acceptance rates from the observed group
    sizes so the kept corpus approaches ``n_target`` rows distributed
    as c_g^(1/2) / sum_g c_g^(1/2) — the square-root temperature that
    mT5 (Xue et al. 2021) and UniMax (Chung et al. 2023) use to damp
    head-language dominance — then gate each row with the deterministic
    md5 draw (same key-hash contract as every sampler in this module).

    rate_g = min(1, n_target * p_g / c_g),  p_g = sqrt(c_g)/sum sqrt

    Cross-engine determinism: c_g are exact integers; sqrt is IEEE
    correctly-rounded on both engines; the sum of the (few) group
    sqrts is a LEFT FOLD in group-name order (never an engine-ordered
    SUM over doubles); the remaining ops are one exactly-rounded
    divide/multiply chain and an exact integer-vs-double compare
    ``u < rate * 2^32`` — so the kept SET replays bit-for-bit in
    DuckDB with no rounding tolerance at all.

    Scale: one partial-agg exchange over ``group`` (rows out = number
    of groups), a driver-free fold on that tiny frame, one broadcast
    join of the rate table back onto the scan, and a codegen md5
    filter — the bulk never shuffles. Tail groups with
    c_g <= n_target * p_g pass whole (rate 1), matching UniMax's
    epoch-cap semantics.
    """
    if n_target < 0:
        raise ValueError("n_target must be >= 0")
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    tot = counts.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(group_col, F.sqrt("__c").alias("s")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("__s")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.col("__c"),
        F.least(
            F.lit(1.0),
            F.lit(float(n_target))
            * (F.sqrt("__c") / F.col("__s"))
            / F.col("__c").cast("double"),
        ).alias("__rate"),
    )
    u = hash_bucket(F.col(key_col), seed).cast("double")
    return (
        df.join(F.broadcast(rates), group_col)
        .withColumn("sample_rate", F.round(F.col("__rate") + F.lit(1e-9), 6))
        .withColumn("kept", u < F.col("__rate") * F.lit(float(BUCKET_SPACE)))
        .drop("__c", "__rate")
    )
