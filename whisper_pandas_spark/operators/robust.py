"""Robust (median/MAD) anomaly statistics per group.

`robust_mad_stats` — the outlier detector that survives the outliers
it hunts: per group, the median and the median absolute deviation of
the quantized values, plus the count of points beyond `k` MADs. The
mean/stddev z-score (`anomaly_zscore`) breaks down exactly when it
matters — a single huge point inflates the stddev until nothing is
>3 sigma — while median and MAD have breakdown point 0.5 (Hampel;
Leys et al. 2013 is the standard methods citation).

Determinism (oracle-parity): values quantize to integer micro-units
first; both medians use the engine's shared exact-quantile definition
(smallest value whose cumulative weight reaches ceil(0.5 * n) — the
same pick kll_quantiles / hist_quantiles read off), and the outlier
test `|x - med| > k * mad` is an integer comparison. No doubles
anywhere, so a SQL engine replays every row bit-for-bit.

Scale: two rounds of [groupBy (group, value) with map-side partials ->
per-group cumulative window over the DISTINCT-VALUE table]. The window
partitions carry one row per distinct value, not per input row —
bounded by value cardinality (micro-unit quantization caps it), which
is what makes the exact median viable at 100 TB where a naive
sort-per-group would not be. The final outlier count is one more
partial-aggregable groupBy over the raw rows with a broadcast of the
tiny per-group stats table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.stage import stage_materialize


def _median_of_counts(cnt: DataFrame, gcols: Sequence[str], col: str, out: str) -> DataFrame:
    """Per-group exact weighted median over a (group..., value, __c)
    count table: smallest value whose cumulative count reaches
    ceil(n/2) (the shared quantile pick)."""
    w = Window.partitionBy(*gcols).orderBy(col)
    wall = Window.partitionBy(*gcols)
    cum = cnt.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__n", F.sum("__c").over(wall)
    )
    return (
        cum.where(F.col("__cum") >= F.ceil(F.col("__n") * 0.5))
        .groupBy(*gcols)
        .agg(F.min(col).alias(out), F.min("__n").alias("__n"))
    )


def robust_mad_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    scale: int = 1000,
    k: int = 3,
) -> DataFrame:
    """Per-group (n, med_micro, mad_micro, n_outliers) with values in
    micro-units (`round(value * scale)` as BIGINT) and outliers defined
    by |x - med| > k * mad.

    The raw rows are scanned EXACTLY ONCE — the first groupBy collapses
    them to the per-group distinct-value count table (bounded by value
    cardinality, which the micro-unit quantization caps), which is then
    materialized (stage barrier) and carries the rest of the
    computation: deviations re-key the COUNT table by |x - med| and
    re-sum, so the MAD and the outlier count never touch raw data
    again."""
    gcols = list(group_cols)
    v = df.where(F.col(value_col).isNotNull()).select(
        *gcols, F.round(F.col(value_col) * scale).cast("long").alias("x")
    )
    cnt = stage_materialize(
        v.groupBy(*gcols, "x")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    med = _median_of_counts(cnt, gcols, "x", "med_micro")
    dev_cnt = stage_materialize(
        cnt.join(F.broadcast(med), gcols)
        .select(
            *gcols,
            F.abs(F.col("x") - F.col("med_micro")).alias("d"),
            "__c",
        )
        .groupBy(*gcols, "d")
        .agg(F.sum("__c").alias("__c"))
    )
    mad = _median_of_counts(dev_cnt, gcols, "d", "mad_micro").drop("__n")
    out = (
        dev_cnt.join(F.broadcast(mad), gcols)
        .groupBy(*gcols)
        .agg(
            F.sum(
                F.when(
                    F.col("d") > F.lit(k) * F.col("mad_micro"), F.col("__c")
                ).otherwise(F.lit(0))
            ).alias("n_outliers")
        )
    )
    return (
        med.join(mad, gcols)
        .join(out, gcols)
        .select(
            *gcols,
            F.col("__n").cast("long").alias("n"),
            "med_micro",
            "mad_micro",
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
    )
