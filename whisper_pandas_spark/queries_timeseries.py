"""Registry entries: time-series analytics over metric series derived
from `events` — Graphite render functions (``graphite_*``), forecasting,
decomposition, correlation, change points and anomaly scores (``ts_*``,
``anomaly_*``).

``_metric_series`` / ``_METRIC_SERIES_SQL`` build the same dot-path
series on a 10-minute grid in both engines (unique timestamp per metric,
so every window order is total and each oracle deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table


Z_THRESH = 3.0


@register(
    "anomaly_zscore",
    oracle=f"""
WITH us AS (
  SELECT event_id, event_type,
         CAST(floor(value * 1000000.0) AS DECIMAL(19,0)) AS v_us
  FROM events
), stats AS (
  SELECT event_type,
         count(*) AS n,
         sum(v_us) AS s1,
         sum(v_us * v_us) AS s2
  FROM us GROUP BY event_type
), scored AS (
  SELECT u.event_id, u.event_type,
         round(
           (CAST(u.v_us AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.n)
           / sqrt((CAST(s.s2 AS DOUBLE)
                   - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
                  / (s.n - 1)),
           6) AS z
  FROM us u JOIN stats s USING (event_type)
)
SELECT event_id, event_type, z FROM scored
WHERE abs(z) >= {Z_THRESH}
ORDER BY event_id
""",
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection: per-group z-score with |z| >= Z_THRESH (3.0).

    The second moment is the order-dependence trap (sum of double
    squares differs across partitionings), so both moments are EXACT:
    values quantized to integer micros with floor (tie-free, unlike
    round), squared and summed in DECIMAL — associative, bit-identical
    under any partitioning — with the float math confined to the final
    per-row expression. Stats side is tiny (one row per group) and
    broadcast back onto the scan."""
    ev = table(spark, sf_dir, "events")
    us = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("decimal(19,0)").alias("v_us"),
    )
    stats = us.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_us").alias("s1"),
        F.sum(F.col("v_us") * F.col("v_us")).alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    z = F.round(
        (F.col("v_us").cast("double") - s1d / F.col("n"))
        / F.sqrt(
            (F.col("s2").cast("double") - s1d * s1d / F.col("n"))
            / (F.col("n") - 1)
        ),
        6,
    )
    return (
        us.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) >= Z_THRESH)
        .orderBy("event_id")
    )


# -- graphite render functions over a rollup grid --------------------------

_GRID = 600  # 10-minute buckets; coarse enough that every metric has gaps


def _metric_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> (metric, timestamp, value): dot-path metric per
    event_type, value summed on a 10-min grid (unique ts per metric, so
    window order is total and the oracle deterministic)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.concat(F.lit("app."), F.col("event_type"), F.lit(".value")).alias(
                "metric"
            ),
            F.timestamp_seconds(
                (F.unix_timestamp("ts") / _GRID).cast("long") * _GRID
            ).alias("timestamp"),
        )
        .agg(F.round(F.sum("value"), 6).alias("value"))
    )


_METRIC_SERIES_SQL = f"""
  SELECT 'app.' || event_type || '.value' AS metric,
         to_timestamp((floor(epoch(ts))::BIGINT // {_GRID}) * {_GRID})::TIMESTAMP AS timestamp,
         round(sum(value), 6) AS value
  FROM events GROUP BY 1, 2
"""


@register(
    "graphite_per_second",
    oracle=f"""
WITH series AS ({_METRIC_SERIES_SQL}),
deltas AS (
  SELECT metric, timestamp, value,
         value - lag(value) OVER w AS dv,
         epoch(timestamp)::BIGINT - epoch(lag(timestamp) OVER w)::BIGINT AS dt
  FROM series
  WINDOW w AS (PARTITION BY metric ORDER BY timestamp)
)
SELECT metric, timestamp,
       round(CASE WHEN dv >= 0 AND dt > 0 THEN dv / dt END, 6) AS rate
FROM deltas ORDER BY metric, timestamp
""",
)
def graphite_per_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+: graphite ``perSecond`` over the rollup grid — counter-rate
    semantics (negative delta -> null) with the elapsed-time divisor."""
    from whisper_pandas_spark.functions.graphite import per_second

    out = per_second(_metric_series(spark, sf_dir))
    return out.select(
        "metric", "timestamp", F.round("value", 6).alias("rate")
    ).orderBy("metric", "timestamp")


@register(
    "graphite_group_by_node",
    oracle=f"""
WITH series AS ({_METRIC_SERIES_SQL})
SELECT str_split(metric, '.')[2] AS metric_node, timestamp,
       round(sum(value), 6) AS value
FROM series GROUP BY 1, 2 ORDER BY metric_node, timestamp
""",
)
def graphite_group_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+: graphite ``groupByNode(series, 1, 'sum')`` — pointwise
    cross-series aggregation keyed on a metric path component."""
    from whisper_pandas_spark.functions.graphite import group_by_node

    out = group_by_node(_metric_series(spark, sf_dir), 1, "sum")
    return out.select(
        F.col("metric").alias("metric_node"),
        "timestamp",
        F.round("value", 6).alias("value"),
    ).orderBy("metric_node", "timestamp")


@register(
    "graphite_summarize",
    oracle=f"""
WITH series AS ({_METRIC_SERIES_SQL})
SELECT metric,
       to_timestamp((epoch(timestamp)::BIGINT // 3600) * 3600)::TIMESTAMP AS timestamp,
       round(max(value), 6) AS value
FROM series GROUP BY 1, 2 ORDER BY metric, timestamp
""",
)
def graphite_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+: graphite ``summarize(series, '1h', 'max')`` — epoch-aligned
    re-bucketing of every series, the render-API face of the rollup
    family (one (metric, bucket) exchange, map-side partial agg)."""
    from whisper_pandas_spark.functions.graphite import summarize

    out = summarize(_metric_series(spark, sf_dir), 3600, "max")
    return out.select(
        "metric", "timestamp", F.round("value", 6).alias("value")
    ).orderBy("metric", "timestamp")


# -- seasonal decomposition over the hourly rollup grid --------------------

_SD_RES = 3600
_SD_P = 24  # daily cycle on an hourly grid
_SD_HALF = _SD_P // 2


@register(
    "ts_seasonal_decompose",
    f"""
WITH series AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // {_SD_RES}) AS t,
         round(avg(value) + 1e-9, 6) AS value
  FROM events GROUP BY event_type, t
), dec0 AS (
  SELECT event_type, t, t % {_SD_P} AS phase, value,
         sum(CAST(value AS DECIMAL(38,12))) OVER w_in AS inner_s,
         count(value) OVER w_full AS cnt_full,
         lag(value, {_SD_HALF}) OVER w_ord AS lagv,
         lead(value, {_SD_HALF}) OVER w_ord AS leadv
  FROM series
  WINDOW w_ord AS (PARTITION BY event_type ORDER BY t),
         w_in AS (PARTITION BY event_type ORDER BY t
                  ROWS BETWEEN {_SD_HALF - 1} PRECEDING AND {_SD_HALF - 1} FOLLOWING),
         w_full AS (PARTITION BY event_type ORDER BY t
                  ROWS BETWEEN {_SD_HALF} PRECEDING AND {_SD_HALF} FOLLOWING)
), dec1 AS (
  SELECT *, CASE WHEN cnt_full = {_SD_P + 1}
                 THEN (CAST(inner_s AS DOUBLE) + 0.5 * (lagv + leadv)) / {_SD_P}
            END AS trend
  FROM dec0
), dec2 AS (
  SELECT *, value - trend AS detr FROM dec1
), dec3 AS (
  SELECT *,
         CAST(sum(CAST(detr AS DECIMAL(38,12))) OVER wp AS DOUBLE)
           / count(detr) OVER wp AS pm,
         row_number() OVER (PARTITION BY event_type, phase ORDER BY t) AS pr
  FROM dec2
  WINDOW wp AS (PARTITION BY event_type, phase)
), dec4 AS (
  SELECT *, CASE WHEN pr = 1 THEN CAST(pm AS DECIMAL(38,12)) END AS pmf
  FROM dec3
), dec5 AS (
  SELECT *, CAST(sum(pmf) OVER wk AS DOUBLE) / count(pmf) OVER wk AS grand
  FROM dec4 WINDOW wk AS (PARTITION BY event_type)
)
SELECT event_type, t * {_SD_RES} AS bucket_epoch, phase, value,
       round(trend + 1e-9, 6) AS trend,
       round(pm - grand + 1e-9, 6) AS seasonal,
       round(value - trend - round(pm - grand + 1e-9, 6) + 1e-9, 6) AS residual
FROM dec5 ORDER BY event_type, bucket_epoch
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+: classical additive seasonal decomposition
    (operators/decompose.py) over the hourly average rollup — daily
    cycle (period 24): centered 2xMA trend (half-weighted ends, NULL at
    edges), phase-mean seasonal re-centered over the distinct phase
    means, residual = deseasonalized anomaly signal. Every mean folds
    through DECIMAL(38,12); the oracle replays the construction
    window-for-window."""
    from whisper_pandas_spark.operators.decompose import seasonal_decompose
    from whisper_pandas_spark.operators.rollup import rollup

    ev = table(spark, sf_dir, "events")
    series = rollup(
        ev, _SD_RES, "average", keys=("event_type",), ts_col="ts",
        value_col="value",
    ).select(
        "event_type",
        "bucket",
        # + 1e-9 boundary bias on the base series, matching the oracle
        # (round 13; the output trend/seasonal/residual already bias)
        F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
    )
    out = seasonal_decompose(
        series, ("event_type",), "bucket", "value", _SD_P, _SD_RES
    )
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        "phase",
        "value",
        "trend",
        "seasonal",
        "residual",
    ).orderBy("event_type", "bucket_epoch")


# -- Holt linear forecasting over the hourly rollup grid -------------------

_HW_A = 0.5
_HW_B = 0.3
_HW_H = 4


def _holt_oracle() -> str:
    A = f"CAST({_HW_A} AS DOUBLE)"
    B = f"CAST({_HW_B} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    new_l = f"{A} * cur[1] + ({one} - {A}) * (acc[1] + acc[2])"
    return f"""
WITH series AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // {_SD_RES}) AS t,
         round(avg(value) + 1e-9, 6) AS value
  FROM events GROUP BY event_type, t
), packed AS (
  SELECT event_type, list(value ORDER BY t) AS xs
  FROM series GROUP BY event_type
), st AS (
  SELECT event_type, len(xs) AS n_points,
    -- state is a 2-list [l, b], NOT a struct: DuckDB 1.0.0 mis-evaluates
    -- later fields of struct accumulators after the first list_reduce
    -- application (verified by probe); list state folds correctly
    list_reduce(
      list_prepend(
        [xs[1]::DOUBLE, xs[2]::DOUBLE - xs[1]::DOUBLE],
        list_transform(xs[2:], x -> [x::DOUBLE, CAST(0.0 AS DOUBLE)])),
      (acc, cur) -> [{new_l},
                     {B} * ({new_l} - acc[1]) + ({one} - {B}) * acc[2]]
    ) AS s
  FROM packed WHERE len(xs) >= 2
)
SELECT event_type, n_points,
       round(s[1], 6) AS level, round(s[2], 6) AS slope,
       CAST(h.range + 1 AS INT) AS h,
       round(s[1] + CAST(h.range + 1 AS DOUBLE) * s[2], 6) AS yhat
FROM st, range(0, {_HW_H}) h
ORDER BY event_type, h
"""


@register("ts_holt_forecast", _holt_oracle())
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+: Holt's linear exponential smoothing
    (operators/forecast.py) per event_type over the hourly average
    rollup — the sequential recurrence distributed at series
    granularity: one collect_list per series (bounded by retention,
    the Whisper-ring contract), one element-order aggregate fold, no
    Python. The oracle replays the identical fold with DuckDB
    list_reduce — expression-identical text, so states match
    bit-for-bit."""
    from whisper_pandas_spark.operators.forecast import holt_forecast
    from whisper_pandas_spark.operators.rollup import rollup

    ev = table(spark, sf_dir, "events")
    series = rollup(
        ev, _SD_RES, "average", keys=("event_type",), ts_col="ts",
        value_col="value",
    ).select(
        "event_type",
        "bucket",
        # + 1e-9 boundary bias on the base series, matching the oracle
        # (round 13; the output trend/seasonal/residual already bias)
        F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
    )
    return holt_forecast(
        series, ("event_type",), "bucket", "value", _HW_A, _HW_B, _HW_H
    ).orderBy("event_type", "h")


# -- cross-metric correlation matrix ---------------------------------------


@register(
    "ts_metric_correlation",
    f"""
WITH series AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // {_SD_RES}) AS t,
         round(avg(value) + 1e-9, 6) AS value
  FROM events GROUP BY event_type, t
)
SELECT a.event_type AS metric_a, b.event_type AS metric_b,
       count(*) AS n_points, round(corr(a.value, b.value), 6) AS corr
FROM series a JOIN series b ON a.t = b.t AND a.event_type < b.event_type
GROUP BY metric_a, metric_b
HAVING count(*) >= 2
ORDER BY metric_a, metric_b
""",
)
def ts_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+: the pairwise Pearson matrix between event-type series on
    the shared hourly grid (operators/decompose.py:metric_correlation)
    — one timestamp equi-join + one pair-keyed partial agg."""
    from whisper_pandas_spark.operators.decompose import metric_correlation
    from whisper_pandas_spark.operators.rollup import rollup

    ev = table(spark, sf_dir, "events")
    series = rollup(
        ev, _SD_RES, "average", keys=("event_type",), ts_col="ts",
        value_col="value",
    ).select(
        "event_type",
        "bucket",
        # + 1e-9 boundary bias on the base series, matching the oracle
        # (round 13; the output trend/seasonal/residual already bias)
        F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
    )
    return metric_correlation(
        series, "event_type", "bucket", "value"
    ).orderBy("metric_a", "metric_b")


# -- graphite nPercentile, driver-verified -------------------------------------

_NPQ = 37.5  # deliberately fractional-rank q: the NIST ceil pick differs
# from percentile_cont here, so the oracle FAILS against the pre-r7
# interpolating implementation — the advisory fix is hash-gated.


@register(
    "graphite_n_percentile",
    oracle=f"""
WITH series AS (
  SELECT 'app.' || event_type || '.value' AS metric,
         to_timestamp((floor(epoch(ts))::BIGINT // 600) * 600)::TIMESTAMP
           AS timestamp,
         round(sum(value), 6) AS value
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT metric, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM series WHERE value IS NOT NULL
), pick AS (
  SELECT metric, value AS p FROM ranked
  WHERE rn = least(greatest(CAST(ceil({_NPQ} / 100.0 * (n + 1)) AS BIGINT),
                            1), n)
)
SELECT s.metric, s.timestamp, round(pick.p, 6) AS value
FROM series s JOIN pick USING (metric)
ORDER BY s.metric, s.timestamp
""",
)
def graphite_n_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y26+: graphite ``nPercentile`` (functions/graphite.py) over
    the shared 10-minute metric grid — each series replaced by its flat
    q-th percentile line using graphite's exact non-interpolating NIST
    rank pick (r6 advisory fix: q=37.5 lands on a fractional rank, so a
    percentile_cont implementation hash-mismatches here)."""
    from whisper_pandas_spark.functions.graphite import n_percentile

    series = _metric_series(spark, sf_dir)
    out = n_percentile(series, _NPQ)
    return out.select(
        "metric", "timestamp", F.round("value", 6).alias("value")
    ).orderBy("metric", "timestamp")


# -- per-group linear trend, driver-verified -------------------------------------


@register(
    "ts_linear_trend",
    oracle="""
WITH base AS (
  SELECT event_type AS k, floor(epoch(ts))::BIGINT AS x,
         CAST(round(value * 1000) AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), m AS (
  SELECT k, min(x) AS x0 FROM base GROUP BY k
), s AS (
  SELECT b.k, min(m.x0) AS x0, count(*) AS n,
         sum(CAST(b.x - m.x0 AS HUGEINT)) AS sx,
         sum(CAST(b.y AS HUGEINT)) AS sy,
         sum(CAST((b.x - m.x0) * (b.x - m.x0) AS HUGEINT)) AS sxx,
         sum(CAST(b.y AS HUGEINT) * CAST(b.y AS HUGEINT)) AS syy,
         sum(CAST((b.x - m.x0) * b.y AS HUGEINT)) AS sxy
  FROM base b JOIN m ON b.k = m.k GROUP BY b.k
), f AS (
  SELECT k, n, x0,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
  FROM s
)
SELECT k AS event_type, CAST(n AS BIGINT) AS n, x0,
       round(CASE WHEN vx <> 0 THEN cv / vx / 1000.0 END + 1e-9, 9)
         AS slope,
       round(CASE WHEN vx <> 0
                  THEN (syd - (cv / vx) * sxd) / CAST(n AS DOUBLE) / 1000.0
             END + 1e-9, 6) AS intercept,
       round(CASE WHEN vx <> 0 AND vy <> 0 THEN cv * cv / (vx * vy) END
             + 1e-9, 6) AS r2
FROM f ORDER BY event_type
""",
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8+: per-metric OLS trend (operators/decompose.py:linear_trend)
    — slope / intercept-at-first-timestamp / r² of value-vs-time per
    event_type, from EXACT integer sufficient statistics (x recentred
    per group, y in milli-units, DECIMAL(38,0) folds) so the fit is
    partitioning-independent and the oracle replays the closed-form
    double arithmetic bit-for-bit. Complements seasonal decomposition
    and Holt forecasting in the time-series family."""
    from whisper_pandas_spark.operators.decompose import linear_trend

    ev = table(spark, sf_dir, "events")
    out = linear_trend(ev, "event_type", "ts", "value", y_scale=1000)
    eps = F.lit(1e-9)
    return out.select(
        "event_type",
        "n",
        "x0",
        F.round(F.col("slope") + eps, 9).alias("slope"),
        F.round(F.col("intercept") + eps, 6).alias("intercept"),
        F.round(F.col("r2") + eps, 6).alias("r2"),
    ).orderBy("event_type")


# -- CUSUM changepoint ----------------------------------------------------------


@register(
    "ts_changepoint_cusum",
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts,
         sum(CAST(round(value * 1000) AS BIGINT)) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
), c AS (
  SELECT event_type, bucket_ts, y,
         row_number() OVER w AS t,
         sum(y) OVER w AS s_t,
         count(*) OVER (PARTITION BY event_type) AS n_buckets,
         sum(y) OVER (PARTITION BY event_type) AS s_n
  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
), s AS (
  SELECT *, abs(n_buckets * s_t - t * s_n) AS d_abs FROM c
  WHERE n_buckets >= 3 AND t < n_buckets
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY d_abs DESC, t) AS rnk
  FROM s
)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(s_n AS BIGINT) AS s_n, bucket_ts AS cp_bucket,
       CAST(d_abs AS BIGINT) AS d_stat
FROM r WHERE rnk = 1
ORDER BY event_type
""",
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: CUSUM level-shift detection (operators/changepoint.py:
    changepoint_max_cusum, Page 1954) — per event_type, the daily
    bucket where |n*S_t - t*S_n| peaks, i.e. the maximum-likelihood
    single mean shift. Values quantize to integer micro-units before
    any sum, so bucket sums, cumulants, and the argmax are exact
    integers end to end; ties break to the earliest bucket."""
    from whisper_pandas_spark.operators.changepoint import changepoint_max_cusum

    ev = table(spark, sf_dir, "events")
    return changepoint_max_cusum(
        ev, ["event_type"], "ts", "value", bucket="day", scale=1000
    ).orderBy("event_type")


# -- robust MAD anomaly stats ----------------------------------------------------


@register(
    "anomaly_robust_mad",
    oracle="""
WITH v AS (
  SELECT event_type, CAST(round(value * 1000) AS BIGINT) AS x FROM events
  WHERE value IS NOT NULL
), cnt AS (
  SELECT event_type, x, count(*) AS c FROM v GROUP BY 1, 2
), cum AS (
  SELECT event_type, x,
         sum(c) OVER (PARTITION BY event_type ORDER BY x) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM cnt
), med AS (
  SELECT event_type, min(n) AS n,
         min(CASE WHEN cum >= ceil(0.5 * n) THEN x END) AS med
  FROM cum GROUP BY event_type
), dev AS (
  SELECT v.event_type, abs(v.x - med.med) AS d
  FROM v JOIN med USING (event_type)
), dcnt AS (SELECT event_type, d, count(*) AS c FROM dev GROUP BY 1, 2),
dcum AS (
  SELECT event_type, d,
         sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM dcnt
), mad AS (
  SELECT event_type, min(CASE WHEN cum >= ceil(0.5 * n) THEN d END) AS mad
  FROM dcum GROUP BY event_type
), outl AS (
  SELECT dev.event_type,
         count(*) FILTER (WHERE dev.d > 3 * mad.mad) AS n_out
  FROM dev JOIN mad USING (event_type) GROUP BY dev.event_type
)
SELECT med.event_type, CAST(med.n AS BIGINT) AS n,
       CAST(med.med AS BIGINT) AS med_micro,
       CAST(mad.mad AS BIGINT) AS mad_micro,
       CAST(outl.n_out AS BIGINT) AS n_outliers
FROM med JOIN mad USING (event_type) JOIN outl USING (event_type)
ORDER BY event_type
""",
)
def anomaly_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: median/MAD robust outlier stats (operators/robust.py:
    robust_mad_stats, breakdown point 0.5 vs the mean/stddev z-score's
    0) — per event_type over micro-unit-quantized values, medians via
    the engine's shared exact cumulative-weight quantile pick, outlier
    test |x - med| > 3 * mad entirely in integers."""
    from whisper_pandas_spark.operators.robust import robust_mad_stats

    ev = table(spark, sf_dir, "events")
    return robust_mad_stats(
        ev, ["event_type"], "value", scale=1000, k=3
    ).orderBy("event_type")


# -- rolling correlation ------------------------------------------------------------


@register(
    "ts_rolling_correlation",
    oracle="""
WITH bx AS (
  SELECT date_trunc('day', ts) AS bucket_ts,
         sum(CAST(round(value * 1000) AS BIGINT)) AS x
  FROM events WHERE event_type = 'view'
    AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), by_ AS (
  SELECT date_trunc('day', ts) AS bucket_ts,
         sum(CAST(round(value * 1000) AS BIGINT)) AS y
  FROM events WHERE event_type = 'purchase'
    AND ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1
), j AS (
  SELECT bx.bucket_ts, x, y FROM bx JOIN by_ USING (bucket_ts)
), s AS (
  SELECT bucket_ts,
         count(*) OVER w AS w_n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         sum(x * y) OVER w AS sxy
  FROM j WINDOW w AS (ORDER BY bucket_ts ROWS BETWEEN 6 PRECEDING
                      AND CURRENT ROW)
), f AS (
  SELECT bucket_ts,
         CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
         CAST(7 * sxy - sx * sy AS BIGINT) AS num,
         CAST(7 * sxx - sx * sx AS BIGINT) AS vx,
         CAST(7 * syy - sy * sy AS BIGINT) AS vy
  FROM s WHERE w_n = 7
)
SELECT bucket_ts, sum_x, sum_y,
       CASE WHEN sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) > 0
            THEN CAST(num AS DOUBLE)
                 / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
       END AS r
FROM f
ORDER BY bucket_ts
""",
)
def ts_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: rolling 7-day Pearson correlation between the view and
    purchase series (operators/decompose.py:rolling_correlation) —
    exact BIGINT windowed sufficient statistics, floating point only
    in the final fixed-order cast-multiply-sqrt-divide, full windows
    only. The windowed companion to ts_metric_correlation's single
    global coefficient."""
    from whisper_pandas_spark.operators.decompose import rolling_correlation

    ev = table(spark, sf_dir, "events")
    return rolling_correlation(
        ev, "event_type", "ts", "value", "view", "purchase",
        bucket="day", window=7, scale=1000,
    ).orderBy("bucket_ts")


# -- graphite round-8 tail: windowed representative -------------------------


def _g_int_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL})
SELECT metric, timestamp,
       round(CAST(sum(CAST(value AS DECIMAL(38,12))) OVER (
               PARTITION BY metric, epoch(timestamp)::BIGINT // 3600
               ORDER BY timestamp ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             + 1e-9, 6) AS value
FROM series ORDER BY metric, timestamp
"""


@register("graphite_integral_by_interval", oracle=_g_int_oracle())
def graphite_integral_by_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y65+: graphite ``integralByInterval(series, '1h')``
    (functions/graphite.py round-8 tail) — running sum resetting at
    every epoch-aligned hour: ONE window keyed (metric, hour bucket),
    the per-series-transform plan shape shared by the whole render
    family. Values fold through DECIMAL(38,12) on both engines so the
    cumulative sums (where DuckDB's segment-tree window could otherwise
    regroup double additions) hash-match exactly."""
    from whisper_pandas_spark.functions.graphite import integral_by_interval

    s = _metric_series(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,12)")
    )
    out = integral_by_interval(s, 3600)
    return out.select(
        "metric",
        "timestamp",
        F.round(F.col("value").cast("double") + 1e-9, 6).alias("value"),
    ).orderBy("metric", "timestamp")


# -- graphite hitcount: proportional re-bucketing entry ----------------------


def _g_hitcount_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
pts AS (
  SELECT metric, epoch(timestamp)::BIGINT AS t,
         CAST(value AS DECIMAL(38,12)) AS v
  FROM series WHERE value IS NOT NULL
), spread AS (
  SELECT p.metric, b.b,
         least((b.b + 1) * 900, p.t + 600) - greatest(b.b * 900, p.t)
           AS overlap,
         p.v
  FROM pts p,
       LATERAL (SELECT unnest(generate_series(p.t // 900,
                                              (p.t + 599) // 900)) AS b) b
)
SELECT metric, to_timestamp(b * 900)::TIMESTAMP AS timestamp,
       round(CAST(sum(v * overlap) AS DOUBLE) + 1e-9, 6) AS value
FROM spread GROUP BY 1, 2 ORDER BY metric, timestamp
"""


@register("graphite_hitcount", oracle=_g_hitcount_oracle())
def graphite_hitcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y65+: graphite ``hitcount(series, '15min')`` over the 10-min
    metric grid — the rate→count re-bucketing where points STRADDLE
    bucket boundaries (600 s steps into 900 s buckets), so the
    proportional split path is exercised, not just the aligned case.
    Values fold through DECIMAL(38,12) (integer overlaps × exact-decimal
    rates) so both engines sum exactly; one sequence-explode + one
    (metric, bucket) partial-agg exchange."""
    from whisper_pandas_spark.functions.graphite import hitcount

    s = _metric_series(spark, sf_dir).where(F.col("value").isNotNull())
    s = s.withColumn("value", F.col("value").cast("decimal(38,12)"))
    out = hitcount(s, 900, step_s=600)
    return out.select(
        "metric",
        "timestamp",
        F.round(F.col("value").cast("double") + 1e-9, 6).alias("value"),
    ).orderBy("metric", "timestamp")


# -- graphite interpolate: gap-fill window entry ------------------------------


def _g_interp_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
gapped AS (
  SELECT metric, timestamp,
         CASE WHEN (epoch(timestamp)::BIGINT // 600) % 7 = 3
              THEN NULL ELSE value END AS value
  FROM series
), numbered AS (
  SELECT metric, timestamp, value,
         row_number() OVER (PARTITION BY metric ORDER BY timestamp) AS r
  FROM gapped
), anchored AS (
  SELECT metric, timestamp, value, r,
         last_value(value IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN value IS NOT NULL THEN r END IGNORE NULLS)
           OVER wp AS pr,
         first_value(value IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN value IS NOT NULL THEN r END IGNORE NULLS)
           OVER wn AS nr
  FROM numbered
  WINDOW wp AS (PARTITION BY metric ORDER BY timestamp
                ROWS UNBOUNDED PRECEDING),
         wn AS (PARTITION BY metric ORDER BY timestamp
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT metric, timestamp,
       round(CASE WHEN value IS NOT NULL THEN value
                  WHEN pr IS NOT NULL AND nr IS NOT NULL
                  THEN pv + (nv - pv) * (r - pr) / (nr - pr)
             END + 1e-9, 6) AS value
FROM anchored ORDER BY metric, timestamp
"""


@register("graphite_interpolate", oracle=_g_interp_oracle())
def graphite_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y65+: graphite ``interpolate(seriesList)`` — every 7th grid
    slot nulled deterministically (epoch-bucket mod), then linear
    gap-fill between the nearest non-null neighbours via ONE ordered
    per-series window pass (last/first IGNORE NULLS + row-number
    arithmetic, functions/graphite.py:interpolate). The oracle replays
    the identical window formulation, fill expression in the same
    operation order, so the filled doubles hash-match."""
    from whisper_pandas_spark.functions.graphite import interpolate

    s = _metric_series(spark, sf_dir)
    gap = F.when(
        F.pmod((F.unix_timestamp("timestamp") / 600).cast("long"), F.lit(7))
        != 3,
        F.col("value"),
    )
    out = interpolate(s.withColumn("value", gap))
    return out.select(
        "metric",
        "timestamp",
        F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
    ).orderBy("metric", "timestamp")


# -- Holt-Winters / Brutlag seasonal forecast ---------------------------------

_HWF_P = 24        # season = 24 slots of the 600 s grid (4 h)
_HWF_RES = 600
_HWF_H = 12
_HWF_A, _HWF_B, _HWF_G = "0.1", "0.0035", "0.1"  # graphite-web defaults
_HWF_M = "3.0"     # Brutlag band multiplier


def _hw_oracle() -> str:
    P = _HWF_P
    A = f"CAST({_HWF_A} AS DOUBLE)"
    B = f"CAST({_HWF_B} AS DOUBLE)"
    G = f"CAST({_HWF_G} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    # flat list state [l, b, s_0..s_{P-1}, d_0..d_{P-1}] (the holt-oracle
    # lesson: DuckDB struct accumulators mis-evaluate; lists fold right).
    # Elements are [x, phase] — also LIST(DOUBLE), so types line up.
    PH = "CAST(cur[2] AS INT)"
    LS = f"acc[3 + {PH}]"
    NL = f"{A} * (cur[1] - {LS}) + ({one} - {A}) * (acc[1] + acc[2])"
    NB = f"{B} * (({NL}) - acc[1]) + ({one} - {B}) * acc[2]"
    NS = f"{G} * (cur[1] - ({NL})) + ({one} - {G}) * {LS}"
    ND = (
        f"{G} * abs(cur[1] - (acc[1] + acc[2] + {LS}))"
        f" + ({one} - {G}) * acc[3 + {P} + {PH}]"
    )
    step = (
        f"[({NL}), ({NB})]"
        f" || acc[3 : 2 + {PH}] || [({NS})] || acc[4 + {PH} : 2 + {P}]"
        f" || acc[3 + {P} : 2 + {P} + {PH}] || [({ND})]"
        f" || acc[4 + {P} + {PH} : 2 + 2 * {P}]"
    )
    zeros = ", ".join(["CAST(0.0 AS DOUBLE)"] * (2 * P))
    return f"""
WITH series AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // {_HWF_RES}) AS t,
         round(avg(value), 6) AS value
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, t
), packed AS (
  SELECT event_type,
         list([value::DOUBLE, (t % {P})::DOUBLE] ORDER BY t) AS es,
         list(t ORDER BY t) AS ts,
         count(*) AS n_points
  FROM series GROUP BY event_type
), st AS (
  SELECT event_type, n_points, ts[len(ts)] AS tn,
    list_reduce(
      list_prepend([es[1][1], CAST(0.0 AS DOUBLE), {zeros}], es[2:]),
      (acc, cur) -> {step}
    ) AS s
  FROM packed WHERE n_points >= 2
)
SELECT event_type, CAST(n_points AS BIGINT) AS n_points,
       CAST(h.range + 1 AS INT) AS h,
       -- double rounding mirrors the Spark side exactly: the operator
       -- rounds to 6, the entry re-rounds with the +1e-9 tie nudge
       round(round(s[1] + CAST(h.range + 1 AS DOUBLE) * s[2]
             + s[3 + CAST((tn + h.range + 1) % {P} AS INT)], 6) + 1e-9, 6)
         AS forecast,
       round(round(s[1] + CAST(h.range + 1 AS DOUBLE) * s[2]
             + s[3 + CAST((tn + h.range + 1) % {P} AS INT)]
             - CAST({_HWF_M} AS DOUBLE)
               * s[3 + {P} + CAST((tn + h.range + 1) % {P} AS INT)], 6)
             + 1e-9, 6) AS lower,
       round(round(s[1] + CAST(h.range + 1 AS DOUBLE) * s[2]
             + s[3 + CAST((tn + h.range + 1) % {P} AS INT)]
             + CAST({_HWF_M} AS DOUBLE)
               * s[3 + {P} + CAST((tn + h.range + 1) % {P} AS INT)], 6)
             + 1e-9, 6) AS upper
FROM st, range(0, {_HWF_H}) h
ORDER BY event_type, h
"""


@register("ts_holtwinters_forecast", oracle=_hw_oracle())
def ts_holtwinters_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+/S10+: Holt-Winters additive seasonal forecast with Brutlag
    confidence bands (operators/forecast.py:holt_winters_forecast — the
    recursion behind graphite's holtWinters* family, published in
    Brutlag LISA 2000; graphite's default alpha/beta/gamma and m=3).
    Per event_type over the 600 s average grid, season = 24 slots,
    12-step horizon. The oracle replays the ENTIRE (l, b, s[24], d[24])
    fold as one DuckDB list_reduce over a flat 50-double state list —
    expression-identical text, so every forecast and band hash-matches
    bit-for-bit."""
    from whisper_pandas_spark.operators.forecast import holt_winters_forecast

    ev = table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    grid = (
        ev.groupBy(
            "event_type",
            (F.unix_timestamp("ts") / _HWF_RES).cast("long").alias("__t"),
        )
        .agg(F.round(F.avg("value"), 6).alias("value"))
        .select(
            "event_type",
            F.timestamp_seconds(F.col("__t") * _HWF_RES).alias("ts"),
            "value",
        )
    )
    out = holt_winters_forecast(
        grid,
        ("event_type",),
        "ts",
        "value",
        _HWF_P,
        _HWF_RES,
        float(_HWF_A),
        float(_HWF_B),
        float(_HWF_G),
        horizon=_HWF_H,
        m=float(_HWF_M),
    )
    eps = F.lit(1e-9)
    return out.select(
        "event_type",
        F.col("n_points").cast("long").alias("n_points"),
        "h",
        F.round(F.col("forecast") + eps, 6).alias("forecast"),
        F.round(F.col("lower") + eps, 6).alias("lower"),
        F.round(F.col("upper") + eps, 6).alias("upper"),
    ).orderBy("event_type", "h")


_POS_Q = 65  # interior NIST pick: ceil(.65*(n+1)) is neither min nor max


def _g_pos_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
nn AS (SELECT timestamp, value FROM series WHERE value IS NOT NULL),
ranked AS (
  SELECT timestamp, value,
         row_number() OVER (PARTITION BY timestamp ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY timestamp) AS cnt
  FROM nn
)
SELECT 'percentileOfSeries' AS metric, timestamp, value
FROM ranked
WHERE rn = least(greatest(CAST(ceil({_POS_Q / 100.0} * (cnt + 1)) AS BIGINT),
                          1), cnt)
ORDER BY timestamp
"""


@register("graphite_percentile_of_series", oracle=_g_pos_oracle())
def graphite_percentile_of_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y92+: graphite ``percentileOfSeries(seriesList, 65)`` over the
    10-min metric grid — one output series whose value at each timestamp
    is the 65th-percentile NIST rank pick across ALL series' non-null
    values there.  Hash-exact by construction: the rank pick returns an
    ACTUAL data value (no interpolation), the rank index is an integer
    computed from the same double product on both engines, and ties in
    the value sort are irrelevant because every tied row carries the
    picked value itself.  Plan: one shuffle on timestamp + two window
    passes over per-timestamp groups whose size is the series count —
    bounded and skew-free at any corpus scale (series count, not point
    count, bounds the group)."""
    from whisper_pandas_spark.functions.graphite import percentile_of_series

    s = _metric_series(spark, sf_dir)
    return percentile_of_series(s, _POS_Q).orderBy("timestamp")


# -- graphite consolidateBy: first/last consolidators -------------------------


def _g_consolidate_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL})
SELECT metric,
       to_timestamp((epoch(timestamp)::BIGINT // 3600) * 3600)::TIMESTAMP
         AS timestamp,
       arg_max(value, timestamp) AS value
FROM series WHERE value IS NOT NULL
GROUP BY 1, 2 ORDER BY metric, timestamp
"""


@register("graphite_consolidate_last", oracle=_g_consolidate_oracle())
def graphite_consolidate_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/Y97: graphite ``consolidateBy(series, 'last')`` re-bucketing the
    10-min grid to 1-hour buckets — the max_by-on-timestamp consolidator,
    the one aggregate shape the rest of the graphite family doesn't
    exercise (sum/avg/min/max are plain aggs; first/last are positional
    picks). Hash-exact: bucket timestamps are unique within a series, so
    the pick is deterministic and returns an actual data value; a single
    (metric, bucket) partial-agg exchange (max_by is mergeable)."""
    from whisper_pandas_spark.functions.graphite import consolidate_by

    s = _metric_series(spark, sf_dir)
    return consolidate_by(s, 3600, "last").orderBy("metric", "timestamp")


# -- per-series autocorrelation ----------------------------------------------

_ACF_MAX_LAG = 3
_ACF_SCALE = 1000


def _acf_oracle() -> str:
    k, sc = _ACF_MAX_LAG, _ACF_SCALE
    return f"""
WITH grid AS (
  SELECT event_type AS series, date_trunc('day', ts) AS bucket_ts,
         sum(CAST(round(value * {sc}) AS BIGINT)) AS x
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
),
lags AS (SELECT CAST(i AS INT) AS lag FROM generate_series(1, {k}) t(i)),
pairs AS (
  SELECT a.series, l.lag,
         CAST(a.x AS DECIMAL(38,0)) AS x, CAST(b.x AS DECIMAL(38,0)) AS y
  FROM grid a CROSS JOIN lags l
  JOIN grid b ON b.series = a.series
             AND b.bucket_ts = a.bucket_ts + INTERVAL (l.lag) DAY
),
sums AS (
  SELECT series, lag, count(*) AS n_pairs,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT series, lag, n_pairs,
  CASE WHEN n_pairs >= 2
        AND CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        AND CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
  THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
  END AS r
FROM sums ORDER BY series, lag
"""


@register("ts_autocorrelation", oracle=_acf_oracle())
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeseries family +: the autocorrelation function (operators/
    decompose.py:autocorrelation) — per event type, Pearson r between
    the daily micro-unit grid and itself shifted 1..3 days (calendar
    equi-join, so gaps pair nothing rather than mis-aligning).  All five
    sufficient statistics fold through DECIMAL(38,0); only the final
    fixed-order IEEE expression is floating point, so r replays
    bit-for-bit in the oracle.  Scale: ONE aggregation touches raw
    events; the lag explode and self-join run on the series x days
    grid."""
    from whisper_pandas_spark.operators.decompose import autocorrelation

    ev = table(spark, sf_dir, "events")
    return autocorrelation(
        ev,
        "event_type",
        "ts",
        "value",
        bucket="day",
        max_lag=_ACF_MAX_LAG,
        scale=_ACF_SCALE,
    ).orderBy("series", "lag")


# -- graphite tag functions ----------------------------------------------------

_TAG_PREDICATES = ("shard=s0", "type=~(purch|sign).*", "name!=web")


def _tag_table(series: DataFrame) -> DataFrame:
    """The demo TagDB: a (metric, tag, tag_value) dimension table derived
    deterministically from the metric paths (name/type from path nodes,
    shard from a length parity) — standing in for graphite-web's tagdb,
    which a migrating deployment would load as exactly this shape."""

    m = series.select("metric").distinct()
    node = F.split(F.col("metric"), r"\.")
    entries = F.array(
        F.struct(
            F.lit("name").alias("tag"), node.getItem(0).alias("tag_value")
        ),
        F.struct(
            F.lit("type").alias("tag"), node.getItem(1).alias("tag_value")
        ),
        F.struct(
            F.lit("shard").alias("tag"),
            F.concat(
                F.lit("s"), (F.length(node.getItem(1)) % 2).cast("string")
            ).alias("tag_value"),
        ),
    )
    return m.select("metric", F.explode(entries).alias("t")).select(
        "metric", "t.tag", "t.tag_value"
    )


def _series_by_tag_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
m AS (SELECT DISTINCT metric FROM series),
tags AS (
  SELECT metric, 'name' AS tag, str_split(metric, '.')[1] AS tag_value FROM m
  UNION ALL
  SELECT metric, 'type', str_split(metric, '.')[2] FROM m
  UNION ALL
  SELECT metric, 'shard',
         's' || CAST(length(str_split(metric, '.')[2]) % 2 AS VARCHAR)
  FROM m
),
wide AS (
  SELECT metric,
    coalesce(max(CASE WHEN tag = 'name' THEN tag_value END), '') AS t_name,
    coalesce(max(CASE WHEN tag = 'type' THEN tag_value END), '') AS t_type,
    coalesce(max(CASE WHEN tag = 'shard' THEN tag_value END), '') AS t_shard
  FROM tags GROUP BY metric
),
matched AS (
  SELECT metric FROM wide
  WHERE t_shard = 's0'
    AND regexp_matches(t_type, '^(?:(purch|sign).*)')
    AND t_name <> 'web'
)
SELECT s.metric, s.timestamp, s.value
FROM series s JOIN matched USING (metric)
ORDER BY metric, timestamp
"""


@register("graphite_series_by_tag", oracle=_series_by_tag_oracle())
def graphite_series_by_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+/Y97+: graphite 1.1 ``seriesByTag('shard=s0',
    'type=~(purch|sign).*', 'name!=web')`` over an EXPLICIT tagdb
    dimension table (functions/graphite.py:series_by_tag) — the
    formerly out-of-scope tag family made in-scope by modeling
    graphite-web's TagDB as one (metric, tag, tag_value) table; the
    Whisper format itself still carries no tags (COVERAGE.md scope
    note), so deployments supply the table.  Exercises all of '='
    equality, '!=' inequality-with-missing-as-empty, and anchored '=~'
    regex.  Plan: a conditional-max tag pivot over the series-sized
    tagdb (one exchange), every predicate evaluated on that single row
    per series, then a LEFT SEMI join against the points — the
    matched-series set is series-cardinality, so it broadcasts and the
    fact scan never shuffles (the new plan shape: broadcast semi-join
    driven by a tag-predicate dimension filter)."""
    from whisper_pandas_spark.functions.graphite import series_by_tag

    s = _metric_series(spark, sf_dir)
    return series_by_tag(s, _tag_table(s), *_TAG_PREDICATES).orderBy(
        "metric", "timestamp"
    )


# ---------------------------------------------------------------------------
# graphite groupByTags / aliasByTags (live entries for the r10-golden pair)
# ---------------------------------------------------------------------------

_TAGS_WIDE_SQL = """
m AS (SELECT DISTINCT metric FROM series),
tags AS (
  SELECT metric, 'name' AS tag, str_split(metric, '.')[1] AS tag_value FROM m
  UNION ALL
  SELECT metric, 'type', str_split(metric, '.')[2] FROM m
  UNION ALL
  SELECT metric, 'shard',
         's' || CAST(length(str_split(metric, '.')[2]) % 2 AS VARCHAR)
  FROM m
),
wide AS (
  SELECT metric,
    coalesce(max(CASE WHEN tag = 'type' THEN tag_value END), '') AS t_type,
    coalesce(max(CASE WHEN tag = 'shard' THEN tag_value END), '') AS t_shard
  FROM tags GROUP BY metric
)
"""


def _group_by_tags_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
{_TAGS_WIDE_SQL}
SELECT 'sum;type=' || w.t_type || ';shard=' || w.t_shard AS metric,
       s.timestamp, round(sum(s.value), 6) AS value
FROM series s LEFT JOIN wide w USING (metric)
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("graphite_group_by_tags", oracle=_group_by_tags_oracle())
def graphite_group_by_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+: graphite 1.1 ``groupByTags(seriesList, 'sum', 'type',
    'shard')`` over the explicit TagDB (functions/graphite.py:
    group_by_tags, VERDICT r11 #7) — pointwise aggregation across
    series sharing tag values, a DISTINCT plan shape from seriesByTag's
    broadcast semi-join: series-sized tag pivot -> left join points on
    metric (broadcast, dimension side is series-cardinality) -> ONE
    exchange on (output name, timestamp) with map-side partial
    aggregation."""
    from whisper_pandas_spark.functions.graphite import group_by_tags

    s = _metric_series(spark, sf_dir)
    out = group_by_tags(s, _tag_table(s), "sum", "type", "shard")
    return out.select(
        "metric", "timestamp", F.round("value", 6).alias("value")
    ).orderBy("metric", "timestamp")


def _alias_by_tags_oracle() -> str:

    return f"""
WITH series AS ({_METRIC_SERIES_SQL}),
{_TAGS_WIDE_SQL}
SELECT w.t_type || '.' || w.t_shard AS metric, s.timestamp, s.value
FROM series s LEFT JOIN wide w USING (metric)
ORDER BY 1, 2
"""


@register("graphite_alias_by_tags", oracle=_alias_by_tags_oracle())
def graphite_alias_by_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10+: graphite 1.1 ``aliasByTags(seriesList, 'type', 'shard')``
    (functions/graphite.py:alias_by_tags) — pure rename projection via
    the tag pivot + broadcast left join; collisions stay separate rows
    (aliasByNode semantics), no aggregation, fact scan never
    shuffles."""
    from whisper_pandas_spark.functions.graphite import alias_by_tags

    s = _metric_series(spark, sf_dir)
    return alias_by_tags(s, _tag_table(s), "type", "shard").orderBy(
        "metric", "timestamp"
    )


# ---------------------------------------------------------------------------
# ts_reconcile_topdown
# ---------------------------------------------------------------------------

_REC_A = 0.5  # Holt level weight (expression-identical replay, no
_REC_B = 0.25  # binary-fraction requirement — the round-6 fold doctrine)


def _reconcile_oracle() -> str:
    a = f"CAST({_REC_A} AS DOUBLE)"
    b = f"CAST({_REC_B} AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    new_l = f"{a} * cur[1] + ({one} - {a}) * (acc[1] + acc[2])"
    return f"""
WITH tot AS (
  SELECT date_trunc('month', o_orderdate) AS t,
    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY t
), packed AS (
  SELECT list(CAST(cents AS DOUBLE) ORDER BY t) AS xs FROM tot
), fc AS (
  SELECT CAST(round(s[1] + s[2]) AS BIGINT) AS fc_total_cents FROM (
    SELECT list_reduce(
      list_prepend(
        [xs[1]::DOUBLE, xs[2]::DOUBLE - xs[1]::DOUBLE],
        list_transform(xs[2:], x -> [x::DOUBLE, CAST(0.0 AS DOUBLE)])),
      (acc, cur) -> [{new_l},
                     {b} * ({new_l} - acc[1]) + ({one} - {b}) * acc[2]]
    ) AS s FROM packed)
), hist AS (
  SELECT c.c_nationkey AS nation,
    CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
      AS hist_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
), quota AS (
  SELECT h.nation, h.hist_cents, f.fc_total_cents,
    CAST(CAST(f.fc_total_cents AS HUGEINT) * h.hist_cents
         // (SELECT sum(hist_cents) FROM hist) AS BIGINT) AS floor_cents,
    CAST(CAST(f.fc_total_cents AS HUGEINT) * h.hist_cents
         % (SELECT sum(hist_cents) FROM hist) AS BIGINT) AS rem
  FROM hist h CROSS JOIN fc f
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, nation) AS rn,
    (SELECT max(fc_total_cents) FROM quota)
      - (SELECT sum(floor_cents) FROM quota) AS leftover
  FROM quota
)
SELECT nation, hist_cents, floor_cents,
  CAST(floor_cents + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT)
    AS reconciled_cents,
  fc_total_cents
FROM ranked ORDER BY nation
"""


@register("ts_reconcile_topdown", oracle=_reconcile_oracle())
def ts_reconcile_topdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y175: hierarchical forecast reconciliation (Hyndman's top-down
    with historical proportions) — the coherence stage the forecasting
    family lacked (holt/holt-winters/seasonal forecast SERIES; nothing
    made a hierarchy's forecasts ADD UP). The total monthly-revenue
    series forecasts one step ahead through the existing Holt fold
    (operators/forecast.py, expression-identical oracle replay); the
    per-nation split then uses HAMILTON APPORTIONMENT in exact integer
    arithmetic — floor(fc x hist_i / hist_total) via DECIMAL(38)
    products (HUGEINT in the oracle; parity probed), remainder cents
    to the largest fractional parts ((rem, nation) total order) — so
    sum(reconciled) == fc_total EXACTLY, a conservation law the hash
    gate re-proves every run (the attribution-ppm doctrine; float
    proportions could never promise it). Plan: two aggregates (month,
    nation), a 1-row forecast broadcast, and a 25-row quota frame —
    nothing corpus-sized past the first aggregate at any scale.
    Positive-revenue domain documented: div truncation == floor."""
    from whisper_pandas_spark.operators.forecast import holt_forecast

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").alias("t"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    tot = (
        orders.groupBy("t")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
        .select("t", F.col("cents").cast("double").alias("v"), F.lit(1).alias("g"))
    )
    fc = (
        holt_forecast(tot, ("g",), "t", "v", _REC_A, _REC_B, 1)
        .select(
            F.round(F.col("level") + F.col("slope"))
            .cast("bigint")
            .alias("fc_total_cents")
        )
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nation"),
    )
    hist = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy("nation")
        .agg(F.sum("cents").cast("bigint").alias("hist_cents"))
    )
    hist_tot = hist.agg(
        F.sum("hist_cents").cast("bigint").alias("hist_total")
    )
    quota = (
        hist.crossJoin(F.broadcast(fc))
        .crossJoin(F.broadcast(hist_tot))
        .select(
            "nation",
            "hist_cents",
            "fc_total_cents",
            F.expr(
                "CAST(CAST(fc_total_cents AS DECIMAL(38,0))"
                " * CAST(hist_cents AS DECIMAL(38,0))"
                " div CAST(hist_total AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("floor_cents"),
            F.expr(
                "CAST(CAST(fc_total_cents AS DECIMAL(38,0))"
                " * CAST(hist_cents AS DECIMAL(38,0))"
                " % CAST(hist_total AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("rem"),
        )
    )
    leftover = quota.agg(
        (F.max("fc_total_cents") - F.sum("floor_cents"))
        .cast("bigint")
        .alias("leftover")
    )
    from pyspark.sql import Window

    ranked = quota.crossJoin(F.broadcast(leftover)).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.lit(1)).orderBy(
                F.col("rem").desc(), F.col("nation")
            )
        ),
    )
    return ranked.select(
        "nation",
        "hist_cents",
        "floor_cents",
        (
            F.col("floor_cents")
            + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("reconciled_cents"),
        "fc_total_cents",
    ).orderBy("nation")
