"""Exponential-smoothing forecasts per metric series (Holt's linear
method) — the capacity-planning companion to seasonal decomposition
(operators/decompose.py) and the graphite holtWinters* family's core
recurrence, Spark-first.

Holt's recurrences are inherently SEQUENTIAL per series:

    l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
    b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}

so the distribution unit is the SERIES, not the point: one
``collect_list`` per series (bounded by retention — the Whisper ring
guarantees a series fits a row, the same contract the reference's
whole-file reads rely on), then ONE higher-order ``aggregate`` fold in
element order. No Python, no window, one exchange for the groupBy;
millions of series parallelize across executors while each fold stays
a tight codegen loop.

Determinism / oracle-parity: the fold is left-to-right in time order
with double arithmetic written EXPRESSION-IDENTICAL to the DuckDB
``list_reduce`` replay (registry entry ``ts_holt_forecast``) — same init
(l0 = x0, b0 = x1 - x0), same recurrence text, so the states match
bit-for-bit, not within tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def holt_forecast(
    df: DataFrame,
    keys: tuple[str, ...],
    ts_col: str,
    value_col: str,
    alpha: float,
    beta: float,
    horizon: int,
) -> DataFrame:
    """h-step-ahead Holt linear forecasts per series.

    Returns one row per (series, h) for h = 1..horizon:
    (*keys, n_points, level, slope, h, yhat) with
    ``yhat = level + h * slope`` (rounded to 6). Series need >= 2 points
    (the standard l0 = x0, b0 = x1 - x0 init); shorter series are
    dropped — forecasting from one observation is a caller decision,
    not a default.
    """
    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError("need 0 < alpha <= 1 and 0 <= beta <= 1")
    if horizon < 1:
        raise ValueError("horizon must be >= 1")
    kcols = [F.col(k) for k in keys]
    a = F.lit(float(alpha))
    b = F.lit(float(beta))

    pts = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col).alias("t"), F.col(value_col).alias("v")))
    )
    series = (
        df.groupBy(*kcols)
        .agg(pts.alias("__pts"))
        .withColumn("__xs", F.transform(F.col("__pts"), lambda p: p["v"].cast("double")))
        .withColumn("n_points", F.size("__xs"))
        .filter(F.col("n_points") >= 2)
    )

    def step(acc: Column, x: Column) -> Column:
        # l' appears twice on purpose — the oracle's list_reduce has no
        # let-binding, and expression-identical text is what guarantees
        # bit-parity of the recomputation
        new_l = a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"])
        new_b = (
            b * (a * x + (F.lit(1.0) - a) * (acc["l"] + acc["b"]) - acc["l"])
            + (F.lit(1.0) - b) * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    init = F.struct(
        F.element_at("__xs", 1).alias("l"),
        (F.element_at("__xs", 2) - F.element_at("__xs", 1)).alias("b"),
    )
    # the init state is the state AT t=0 (l0 = x0; b0 from the first
    # difference), so the recursion starts at t=1 — x1 participates in
    # both the trend init and the first update (the heuristic init that
    # makes a perfectly linear series track EXACTLY: l_t = x_t, b_t = m)
    rest = F.slice(F.col("__xs"), 2, F.size("__xs") - 1)
    state = F.aggregate(rest, init, step)
    fitted = series.withColumn("__st", state).select(
        *kcols,
        "n_points",
        F.round(F.col("__st.l"), 6).alias("level"),
        F.round(F.col("__st.b"), 6).alias("slope"),
        F.col("__st.l").alias("__l"),
        F.col("__st.b").alias("__b"),
    )
    return (
        fitted.select(
            *kcols,
            "n_points",
            "level",
            "slope",
            F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h"),
            "__l",
            "__b",
        )
        .withColumn(
            "yhat",
            F.round(F.col("__l") + F.col("h").cast("double") * F.col("__b"), 6),
        )
        .drop("__l", "__b")
    )


def holt_winters_forecast(
    df: DataFrame,
    keys: tuple[str, ...],
    ts_col: str,
    value_col: str,
    period: int,
    resolution: int,
    alpha: float = 0.1,
    beta: float = 0.0035,
    gamma: float = 0.1,
    horizon: int | None = None,
    m: float = 3.0,
) -> DataFrame:
    """Triple-exponential (Holt-Winters additive) forecast with Brutlag
    confidence bands — the recursion behind graphite-web's
    ``holtWintersForecast`` / ``ConfidenceBands`` / ``Aberration``
    family (Brutlag, LISA 2000, the published aberrant-behaviour
    method; graphite's defaults alpha=gamma=0.1, beta=0.0035, band
    multiplier m=3):

        pred_t = l + b + s[phase]                (state BEFORE t)
        l'     = alpha*(x - s[phase]) + (1-alpha)*(l + b)
        b'     = beta*(l' - l) + (1-beta)*b
        s'[ph] = gamma*(x - l') + (1-gamma)*s[phase]
        d'[ph] = gamma*|x - pred_t| + (1-gamma)*d[phase]

    ``period`` is in POINTS, ``resolution`` seconds per point; the
    seasonal phase is TIME-anchored ((epoch/resolution) mod period, the
    seasonal_decompose convention) so offsets and gaps keep their slot.
    Init (documented, replayed verbatim by oracles/tests): l = x0,
    b = 0, s = d = zeros; the recursion folds x1..x_{n-1}.

    Returns ``horizon`` (default = period) rows per series:
    (*keys, n_points, h, forecast, lower, upper) where forecast =
    l + h*b + s[phase(t_last + h)] and the band is ±m*d[same phase].

    Scale shape: one collect_list per series (retention-bounded, the
    holt_forecast contract) + ONE expression fold carrying
    (l, b, s[period], d[period], i); the per-step seasonal-slot update
    is two slice-concat array rebuilds — O(n*period) per series,
    embarrassingly parallel across series. The fold text is
    EXPRESSION-IDENTICAL to the DuckDB list_reduce replay, so states
    match bit-for-bit."""
    if period < 2:
        raise ValueError("period must be >= 2")
    if resolution < 1:
        raise ValueError("resolution must be >= 1")
    for nm, v, lo in (("alpha", alpha, 0.0), ("gamma", gamma, 0.0)):
        if not lo < v <= 1.0:
            raise ValueError(f"need 0 < {nm} <= 1")
    if not 0.0 <= beta <= 1.0:
        raise ValueError("need 0 <= beta <= 1")
    horizon = horizon or period
    kcols = [F.col(k) for k in keys]
    a_ = F.lit(float(alpha))
    b_ = F.lit(float(beta))
    g_ = F.lit(float(gamma))
    P = period

    t_slot = (F.unix_timestamp(F.col(ts_col)) / resolution).cast("long")
    pts = F.array_sort(
        F.collect_list(
            F.struct(t_slot.alias("t"), F.col(value_col).cast("double").alias("x"))
        )
    )
    series = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*kcols)
        .agg(pts.alias("__pts"))
        .withColumn("n_points", F.size("__pts"))
        .filter(F.col("n_points") >= 2)
    )

    zeros = F.array_repeat(F.lit(0.0), P)

    def slot(arr: Column, ph: Column) -> Column:
        return F.element_at(arr, (ph + 1).cast("int"))

    def put(arr: Column, ph: Column, v: Column) -> Column:
        # arr with slot ph (0-based) replaced by v — slice/concat, the
        # construction DuckDB replays as arr[1:ph] || [v] || arr[ph+2:]
        return F.concat(
            F.slice(arr, 1, ph.cast("int")),
            F.array(v),
            F.slice(arr, (ph + 2).cast("int"), (F.lit(P - 1) - ph).cast("int")),
        )

    def step(acc: Column, e: Column) -> Column:
        ph = F.pmod(e["t"], F.lit(P))
        last_s = slot(acc["s"], ph)
        pred = acc["l"] + acc["b"] + last_s
        nl = a_ * (e["x"] - last_s) + (F.lit(1.0) - a_) * (acc["l"] + acc["b"])
        nb = (
            b_
            * (
                a_ * (e["x"] - last_s)
                + (F.lit(1.0) - a_) * (acc["l"] + acc["b"])
                - acc["l"]
            )
            + (F.lit(1.0) - b_) * acc["b"]
        )
        ns = g_ * (e["x"] - (a_ * (e["x"] - last_s) + (F.lit(1.0) - a_) * (acc["l"] + acc["b"]))) + (
            F.lit(1.0) - g_
        ) * last_s
        nd = g_ * F.abs(e["x"] - pred) + (F.lit(1.0) - g_) * slot(acc["d"], ph)
        return F.struct(
            nl.alias("l"),
            nb.alias("b"),
            put(acc["s"], ph, ns).alias("s"),
            put(acc["d"], ph, nd).alias("d"),
        )

    init = F.struct(
        F.element_at("__pts", 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        zeros.alias("s"),
        zeros.alias("d"),
    )
    rest = F.slice(F.col("__pts"), 2, F.size("__pts") - 1)
    fitted = series.withColumn("__st", F.aggregate(rest, init, step)).withColumn(
        "__tn", F.element_at("__pts", F.size("__pts"))["t"]
    )
    h = F.col("h").cast("long")
    ph_h = F.pmod(F.col("__tn") + h, F.lit(P))
    fc = F.col("__st.l") + h.cast("double") * F.col("__st.b") + slot(
        F.col("__st.s"), ph_h
    )
    band = F.lit(float(m)) * slot(F.col("__st.d"), ph_h)
    return (
        fitted.select(
            *kcols,
            "n_points",
            "__st",
            "__tn",
            F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("h"),
        )
        .select(
            *kcols,
            "n_points",
            F.col("h").cast("int").alias("h"),
            F.round(fc, 6).alias("forecast"),
            F.round(fc - band, 6).alias("lower"),
            F.round(fc + band, 6).alias("upper"),
        )
    )
