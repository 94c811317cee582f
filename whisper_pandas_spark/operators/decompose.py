"""Classical seasonal decomposition of regular metric series.

`seasonal_decompose` — the additive moving-average method (the
`statsmodels.tsa.seasonal_decompose` / STL-lite construction): for each
series, trend = centered period-length moving average, seasonal = the
phase-mean of the detrended values re-centered to sum to ~0, residual =
value - trend - seasonal. The anomaly-detection / capacity-planning
companion to the rollup family: residual spikes are deseasonalized
alerts (what `anomaly_zscore` gives per group, this gives per phase).

Input contract: a REGULAR grid per series (one row per `resolution`
step — run operators/resample.py:resample_fill first if the series has
holes). Windows are ROWS-framed over the per-series time order, so at
100 TB each series is one window partition keyed by its metric — the
same partitioning every per-series operator in the engine uses (skew
ceiling = points per series, bounded by retention exactly like the
Whisper ring itself).

Determinism (oracle-parity): every mean folds through DECIMAL(38,12)
sums — partition-order-independent — and the remaining arithmetic is
per-row IEEE doubles, so a SQL engine replays the decomposition
value-for-value (registry entry `ts_seasonal_decompose`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.stage import stage_materialize

# Deterministic tie-break for the 6-decimal output rounding: with
# 6-decimal inputs the trend quotient lands EXACTLY on half-1e-6
# boundaries (N/48 with N a micro-unit integer ties whenever
# N % 48 == 24), where Spark (shortest-string HALF_UP) and a SQL oracle
# (binary-exact half-away) can round the same double differently.
# Non-tie values sit >= 1/(48e6) ~ 2.1e-8 from a boundary, so nudging by
# 1e-9 before rounding never moves a non-tie but pushes every exact tie
# upward on both engines identically ("ties toward +inf" semantics).
_TIE_EPS = 1e-9


def seasonal_decompose(
    df: DataFrame,
    keys: tuple[str, ...],
    ts_col: str,
    value_col: str,
    period: int,
    resolution: int,
) -> DataFrame:
    """Add ``trend``, ``seasonal``, ``residual`` columns to a regular
    metric grid.

    ``period`` is in POINTS (e.g. 24 on an hourly grid for a daily
    cycle); ``resolution`` is seconds per point (defines the phase:
    ``(epoch / resolution) % period``). Trend uses the standard
    centered MA — plain for odd periods, the 2xMA half-weighted-ends
    form for even ones — and is NULL where the window is incomplete
    (series edges), as are seasonal-adjusted outputs there.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    if resolution < 1:
        raise ValueError("resolution must be >= 1")
    kcols = [F.col(k) for k in keys]
    t = (F.unix_timestamp(F.col(ts_col)) / resolution).cast("long")
    df = df.withColumn("__t", t).withColumn(
        "__phase", F.pmod(F.col("__t"), F.lit(period))
    )
    order = Window.partitionBy(*kcols).orderBy("__t")
    val_dec = F.col(value_col).cast("decimal(38,12)")

    half = period // 2
    if period % 2 == 1:
        w = order.rowsBetween(-half, half)
        complete = F.count(value_col).over(w) == period
        trend = F.when(
            complete, F.sum(val_dec).over(w).cast("double") / period
        )
    else:
        w_in = order.rowsBetween(-(half - 1), half - 1)
        w_full = order.rowsBetween(-half, half)
        complete = F.count(value_col).over(w_full) == period + 1
        inner = F.sum(val_dec).over(w_in).cast("double")
        edges = F.lag(value_col, half).over(order) + F.lead(
            value_col, half
        ).over(order)
        trend = F.when(complete, (inner + 0.5 * edges) / period)

    with_trend = df.withColumn("__trend", trend).withColumn(
        "__detr", F.col(value_col) - F.col("__trend")
    )
    wp = Window.partitionBy(*kcols, F.col("__phase"))
    wk = Window.partitionBy(*kcols)
    detr_dec = F.col("__detr").cast("decimal(38,12)")
    phase_mean = F.sum(detr_dec).over(wp).cast("double") / F.count(
        "__detr"
    ).over(wp)
    out = with_trend.withColumn("__pm", phase_mean)
    # re-center: one value per (series, phase) — fold the DISTINCT phase
    # means, not every row's copy (max per phase is exact: all copies
    # within a phase are identical)
    pm_dec = F.col("__pm").cast("decimal(38,12)")
    phase_rank = F.row_number().over(
        Window.partitionBy(*kcols, F.col("__phase")).orderBy("__t")
    )
    out = out.withColumn("__pm_first", F.when(phase_rank == 1, pm_dec))
    grand = F.sum("__pm_first").over(wk).cast("double") / F.count(
        "__pm_first"
    ).over(wk)
    seasonal = F.round(F.col("__pm") - grand + _TIE_EPS, 6)
    return (
        out.withColumn("seasonal", seasonal)
        .withColumn("trend", F.round(F.col("__trend") + _TIE_EPS, 6))
        .withColumn(
            "residual",
            F.round(
                F.col(value_col)
                - F.col("__trend")
                - F.col("seasonal")
                + _TIE_EPS,
                6,
            ),
        )
        .drop("__t", "__trend", "__detr", "__pm", "__pm_first")
        .withColumnRenamed("__phase", "phase")
    )


def metric_correlation(
    df: DataFrame,
    metric_col: str,
    ts_col: str,
    value_col: str,
    min_points: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation between metrics over their ALIGNED
    timestamps: (metric_a, metric_b, n_points, corr) for every
    unordered pair (a < b) sharing >= *min_points* grid points — the
    which-metrics-move-together matrix behind dashboard grouping and
    redundant-alert pruning.

    One self-equi-join on the timestamp (uniform key — time never
    skews), one (pair)-keyed partial aggregation. The pair count is
    M^2/2 AGGREGATE ROWS, not joined data volume: each timestamp
    contributes one row per co-observed pair, so traffic is
    sum_t m_t^2 — bound m_t (metrics per timestamp) by pre-filtering
    the metric set, exactly like any correlation-matrix job."""
    a = df.select(
        F.col(metric_col).alias("metric_a"),
        F.col(ts_col).alias("__t"),
        F.col(value_col).alias("__va"),
    )
    b = df.select(
        F.col(metric_col).alias("metric_b"),
        F.col(ts_col).alias("__t"),
        F.col(value_col).alias("__vb"),
    )
    return (
        a.join(b, "__t")
        .filter(F.col("metric_a") < F.col("metric_b"))
        .groupBy("metric_a", "metric_b")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            # covar/(sd*sd) with try_divide, NOT F.corr: under Spark 4
            # ANSI mode corr raises DIVIDE_BY_ZERO on a zero-variance
            # pair (a flat-lined gauge), where the SQL oracle's corr()
            # yields NULL — try_divide restores the NULL contract
            F.round(
                F.try_divide(
                    F.covar_samp("__va", "__vb"),
                    F.stddev_samp("__va") * F.stddev_samp("__vb"),
                ),
                6,
            ).alias("corr"),
        )
        .filter(F.col("n_points") >= min_points)
    )


def linear_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    y_scale: int = 1000,
) -> DataFrame:
    """Per-group OLS trend line (key, n, x0, slope, intercept, r2):
    regress value on time via EXACT sufficient statistics —
    x recentred to the group's first timestamp (x0, epoch seconds) and
    y scaled to ``y_scale`` integer units, so Sx/Sy/Sxx/Syy/Sxy are
    integer sums folded through DECIMAL(38,0) (exact, mergeable,
    partitioning-independent); only the closed-form slope/intercept/r2
    arithmetic runs in doubles, in a fixed expression order any engine
    replays bit-for-bit. ``intercept`` is the fitted value AT x0; slope
    is value-units per second; degenerate groups (zero time or value
    variance) yield NULL slope/r2.

    Shape: one key-partial-agg for x0, one key join (same partitioning),
    one key-partial-agg for the five sums — no windows, no Python.
    """
    if y_scale < 1:
        raise ValueError("y_scale must be >= 1")
    x_raw = F.unix_timestamp(F.col(ts_col))
    base = df.select(
        F.col(key_col).alias("__k"),
        x_raw.alias("__x"),
        F.round(F.col(value_col) * y_scale).cast("long").alias("__y"),
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    mins = base.groupBy("__k").agg(F.min("__x").alias("__x0"))
    j = base.join(mins, "__k").select(
        "__k", "__x0", (F.col("__x") - F.col("__x0")).alias("__xc"), "__y"
    )
    dec = "decimal(38,0)"
    sums = j.groupBy("__k").agg(
        F.min("__x0").alias("x0"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__xc").cast(dec)).alias("sx"),
        F.sum(F.col("__y").cast(dec)).alias("sy"),
        F.sum((F.col("__xc") * F.col("__xc")).cast(dec)).alias("sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast(dec)).alias("syy"),
        F.sum((F.col("__xc") * F.col("__y")).cast(dec)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    cv = nd * sxy - sx * sy
    slope_scaled = F.when(vx != 0.0, cv / vx)
    ys = float(y_scale)
    return sums.select(
        F.col("__k").alias(key_col),
        "n",
        "x0",
        (slope_scaled / F.lit(ys)).alias("slope"),
        (
            F.when(vx != 0.0, (sy - slope_scaled * sx) / nd / F.lit(ys))
        ).alias("intercept"),
        (
            F.when((vx != 0.0) & (vy != 0.0), cv * cv / (vx * vy))
        ).alias("r2"),
    )


def rolling_correlation(
    df: DataFrame,
    series_col: str,
    time_col: str,
    value_col: str,
    series_x: str,
    series_y: str,
    *,
    bucket: str = "day",
    window: int = 7,
    scale: int = 1000,
) -> DataFrame:
    """Rolling Pearson correlation between two named series.

    The windowed companion to :func:`metric_correlation` (which is one
    global coefficient): bucket both series to a shared grid, align on
    the bucket (inner join — only buckets where BOTH series have data),
    and compute r over a trailing ROWS frame of `window` buckets from
    integer sufficient statistics:

        r = (w·Σxy − Σx·Σy) / sqrt((w·Σxx − Σx²) · (w·Σyy − Σy²))

    Determinism (oracle-parity): values quantize to micro-units before
    any sum, every Σ is an exact BIGINT windowed fold (frame-ordered,
    identical on any engine), the numerator and both variance terms are
    exact BIGINT expressions, and the only floating point is the final
    fixed-order cast-multiply-sqrt-divide — deterministic IEEE ops on
    identical inputs, so r replays bit-for-bit. Zero-variance windows
    yield NULL. Only FULL windows emit (the first window-1 buckets are
    suppressed, so results don't depend on partial-frame edges).

    Scale: two vocabulary-of-buckets aggregations + one bucket-aligned
    join + one ROWS window per series pair — the per-series
    partitioning ceiling every timeseries operator here shares.
    """
    w = Window.orderBy("bucket_ts").rowsBetween(-(window - 1), 0)

    def bucketed(name: str, out: str) -> DataFrame:
        return (
            df.where(
                (F.col(series_col) == name)
                & F.col(time_col).isNotNull()
                & F.col(value_col).isNotNull()
            )
            .groupBy(F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts"))
            .agg(
                F.sum(F.round(F.col(value_col) * scale).cast("long")).alias(out)
            )
        )

    joined = bucketed(series_x, "x").join(bucketed(series_y, "y"), "bucket_ts")
    stats = joined.select(
        "bucket_ts",
        F.count(F.lit(1)).over(w).alias("w_n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    ).where(F.col("w_n") == window)
    num = F.lit(window) * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.lit(window) * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.lit(window) * F.col("syy") - F.col("sy") * F.col("sy")
    den = F.sqrt(vx.cast("double") * vy.cast("double"))
    return stats.select(
        "bucket_ts",
        F.col("sx").alias("sum_x"),
        F.col("sy").alias("sum_y"),
        F.when(den > 0, num.cast("double") / den).alias("r"),
    )


def autocorrelation(
    df: DataFrame,
    series_col: str,
    time_col: str,
    value_col: str,
    *,
    bucket: str = "day",
    max_lag: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Per-series autocorrelation function (ACF) at lags 1..max_lag.

    Buckets each series to a shared calendar grid (micro-unit BIGINT
    sums), pairs each bucket with the bucket exactly ``lag`` grid steps
    later (calendar-shift equi-join — gaps simply produce no pair, which
    is the 'paired-observations' ACF convention), and computes the
    Pearson coefficient per (series, lag) from exact sufficient
    statistics:

        r_k = (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx²) · (n·Σyy − Σy²))

    Determinism (oracle-parity): values quantize to ``scale`` integer
    units before any sum, all five Σ fold through DECIMAL(38,0) (exact,
    partition-order independent), and only the final fixed-order
    cast/multiply/sqrt/divide runs in doubles — identical IEEE ops on
    identical inputs, so r_k replays bit-for-bit. Lags with fewer than
    2 pairs or zero variance on either side yield NULL r.

    Shape: ONE bucket aggregation over raw data, then the lag explode
    and self-join operate on the bucket grid (bounded by series x
    buckets, orders of magnitude smaller), keyed on the series — so the
    join shuffle carries grid rows only and partial aggregation absorbs
    any per-series skew. No windows over raw rows, no Python.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    if bucket not in ("day", "hour"):
        raise ValueError("bucket must be 'day' or 'hour'")
    unit_args = {"day": "0, 0, 0, l.lag, 0, 0, 0", "hour": "0, 0, 0, 0, l.lag, 0, 0"}[bucket]
    grid = stage_materialize(
        df.where(
            F.col(time_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(series_col).alias("series"),
            F.date_trunc(bucket, F.col(time_col)).alias("bucket_ts"),
        )
        .agg(F.sum(F.round(F.col(value_col) * scale).cast("long")).alias("x"))
        # The grid is consumed TWICE in the returned lazy plan (both
        # sides of the lag self-join), but the returned DataFrame gives
        # the caller no handle to unpersist a cache — a plain persist()
        # here would pin blocks in the CacheManager across repeated
        # calls (it is never released until the session dies). An eager
        # stage barrier materializes the grid exactly once, truncates
        # lineage, and its blocks are released by the ContextCleaner
        # when the DataFrame is garbage-collected — the same lifecycle
        # graph.py's iterative operators use, without needing an
        # explicit unpersist the caller can't make.
    )
    lags = grid.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = grid.alias("a").crossJoin(F.broadcast(lags.alias("l")))
    b = grid.select(
        F.col("series").alias("series_b"),
        F.col("bucket_ts").alias("ts_b"),
        F.col("x").alias("y"),
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.series") == F.col("series_b"))
        & (
            F.col("ts_b")
            == F.col("a.bucket_ts") + F.expr(f"make_interval({unit_args})")
        ),
    )
    dec = "decimal(38,0)"
    # second-order products multiply as DECIMAL(38,0), never long*long —
    # a daily micro-unit sum squares past 2^63 well before 100 TB
    xd = F.col("a.x").cast(dec)
    yd = F.col("y").cast(dec)
    sums = pairs.groupBy(F.col("a.series").alias("series"), F.col("l.lag").alias("lag")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    nd = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nd * sxy - sx * sy
    vx = nd * sxx - sx * sx
    vy = nd * syy - sy * sy
    return sums.select(
        "series",
        "lag",
        "n_pairs",
        F.when(
            (F.col("n_pairs") >= 2) & (vx > 0.0) & (vy > 0.0),
            num / F.sqrt(vx * vy),
        ).alias("r"),
    )
