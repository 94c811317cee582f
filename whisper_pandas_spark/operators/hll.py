"""HyperLogLog distinct-count sketches (Flajolet et al. 2007,
"HyperLogLog: the analysis of a near-optimal cardinality estimation
algorithm"; small-range correction per the paper / Google's HLL++
practice of falling back to linear counting).

Extension beyond the reference (whisper_pandas.py has no sketch
surface). The repo already ships JVM DataSketches HLL state tables
(operators/sketches.py:hll_shards — opaque BINARY sketches, estimates
from the library); THIS module is the auditable register-level twin:
the registers and even the floating-point estimates are
bit-deterministic and DuckDB-replayable, so the approximate answer
itself sits under the value-hash gate, and the sparse (keys, bucket,
reg) rows are plain columns any engine can merge. Completes the repo's
EXPLICIT merge-law matrix:

  CMS (additive merge) | top-k (additive) | KMV (idempotent bottom-k)
  Bloom (idempotent OR) | **HLL (idempotent element-wise MAX)**

Like the Bloom/KMV family, the merge law is IDEMPOTENT — max-merging a
shard's registers twice changes nothing — so the streaming maintainer
(streaming/hll.py) needs no exactly-once marker machinery.

Cross-engine determinism
------------------------
Built on the repo's md5→BIGINT hash family (same as KMV/CMS/Bloom) so
registers — and therefore the APPROXIMATE estimates — are
bit-deterministic and DuckDB-replayable:

- 60-bit hash ``h`` = first 15 md5 hex chars of ``"hll<seed>:<value>"``;
- bucket = ``h % m`` (m a power of two), payload ``w = h // m``;
- rho(w)  = 1 + index of the lowest set bit of w, computed closed-form
  as ``bit_count((w & -w) - 1) + 1`` (``w & -w`` isolates the lowest
  set bit; minus one yields the below-mask; popcount counts it — pure
  integer ops, no float log2, no per-row scan), ``PAYLOAD_BITS + 1``
  when w = 0;
- register_j = max rho over the bucket's values (comparison-only —
  order-free, partial-aggregatable map-side);
- harmonic sum folds the m registers IN BUCKET ORDER with
  ``1.0 / (1 << reg)`` terms (a power of two: exact in IEEE double on
  both engines), so even the floating-point estimate is bit-identical.

Scale shape: one (keys, bucket) partial-agg exchange over raw data —
the max combines map-side, so the shuffle carries at most
``groups x m`` rows regardless of input size; everything downstream
touches only m-element arrays per group.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import (
    HASH_HEX_CHARS,
    duck_md5_int,
    keyed_hash64,
)

#: default register count (2^6); standard error ~ 1.04/sqrt(64) ~ 13%
M_DEFAULT = 64

#: bits left in the 60-bit hash after the bucket index for m=64
def _payload_bits(m: int) -> int:
    b = m.bit_length() - 1
    if 1 << b != m:
        raise ValueError(f"m must be a power of two, got {m}")
    return 60 - b


def _alpha(m: int) -> float:
    # the paper's alpha_m constants (m >= 128 uses the asymptotic form)
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_duck_hash(value_sql: str, seed: int = 0) -> str:
    """DuckDB twin of the sketch hash — oracles build on this."""
    return duck_md5_int(
        f"'hll{seed}:' || CAST({value_sql} AS VARCHAR)", HASH_HEX_CHARS
    )


def hll_shard_sketches(
    df: DataFrame,
    keys: tuple[str, ...],
    value_col: str,
    m: int = M_DEFAULT,
    seed: int = 0,
) -> DataFrame:
    """Sketch *value_col* per *keys* group into sparse HLL registers.

    Returns ``(*keys, bucket, reg)`` — only buckets that saw at least
    one value appear (sparse representation; absent bucket = register
    0), exactly like the Bloom sketches' sparse set-bit rows. The max
    combines map-side, so the exchange carries <= groups x m rows.

    NULL contract (round-13 ADVICE fix): NULL values are NOT sketched —
    distinct-count semantics follow SQL ``COUNT(DISTINCT v)``, which
    ignores NULLs. (Without the filter, Spark's ``concat_ws`` would
    silently skip the NULL and hash the bare prefix — counting every
    NULL as one phantom element — while the DuckDB twin's ``||``
    propagates NULL; the explicit filter makes both engines drop the
    row.)
    """
    pb = _payload_bits(m)
    rho = F.expr(
        f"IF(w = 0, {pb + 1}, bit_count((w & -w) - 1) + 1)"
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*keys, keyed_hash64(f"hll{seed}", value_col).alias("h"))
        # h is a 60-bit non-negative BIGINT: use INTEGER div/mod (a
        # float `/` would round above 2^53 and corrupt the payload)
        .selectExpr(*keys, f"h % {m} AS bucket", f"h div {m} AS w")
        .select(*keys, "bucket", rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_rollup(sketches: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Merge sparse register rows (element-wise MAX — idempotent)."""
    return sketches.groupBy(*keys, "bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(
    sketches: DataFrame, keys: tuple[str, ...], m: int = M_DEFAULT
) -> DataFrame:
    """Estimate per-group cardinality from sparse register rows.

    Returns ``(*keys, n_zero_regs, reg_checksum, est)``:

    - ``n_zero_regs`` — V, the empty-register count (drives the
      small-range linear-counting fallback);
    - ``reg_checksum`` — ordered integer fold over the dense register
      array (exact; pins the sketch content itself in value checks);
    - ``est`` — the HLL estimate, rounded to 6 decimals: raw
      ``alpha*m^2 / sum(2^-reg)`` with the paper's small-range
      correction ``m * ln(m / V)`` when raw <= 2.5m and V > 0.
    """
    alpha = _alpha(m)
    dense = (
        sketches.groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "reg"))
            ).alias("rm")
        )
        .select(
            *keys,
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" j -> coalesce(rm[cast(j as bigint)], 0L))"
            ).alias("regs"),
        )
    )
    harm = F.expr(
        "aggregate(regs, cast(0.0 as double),"
        " (acc, r) -> acc + 1.0 / cast(shiftleft(1L, cast(r as int)) as double))"
    )
    v = F.expr("size(filter(regs, r -> r = 0))")
    # masked to 55 bits so acc*31+r never overflows BIGINT on either
    # engine (the JVM would wrap silently, DuckDB would raise) — the
    # same guard as the text_fingerprints rolling hash
    checksum = F.expr(
        f"aggregate(regs, 0L, (acc, r) -> (acc * 31 + r) & {(1 << 55) - 1})"
    )
    raw = F.lit(alpha * m * m) / harm
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return dense.select(
        *keys,
        v.alias("n_zero_regs"),
        checksum.alias("reg_checksum"),
        F.round(est, 6).alias("est"),
    )


def hll_alpha(m: int = M_DEFAULT) -> float:
    """Expose alpha_m for oracle construction."""
    return _alpha(m)


def hll_error_bound(m: int = M_DEFAULT) -> float:
    """The paper's asymptotic standard error, 1.04 / sqrt(m)."""
    return 1.04 / math.sqrt(m)
