"""Registry entries: the Whisper rollup family (SURVEY.md §2.4 A1–A9)
exercised on the ``events`` table (the driver's time-series stand-in).

Oracle notes: bucket is emitted as BIGINT epoch seconds (not TIMESTAMP) so
Spark/DuckDB type coercion can't skew the hash; float aggregates are
rounded to 6 dp identically on both sides; Spark's ``unix_timestamp``
truncates sub-second parts, so the DuckDB side uses ``floor(epoch(ts))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.operators.rollup import rollup

_RES = 3600  # 1-hour tumbling windows
_FINE = 600  # assumed fine resolution for avg_zero / xFilesFactor (6 slots/window)


def _spark_rollup(spark: SparkSession, sf_dir: str, method: str, xff: float = 0.0) -> DataFrame:
    events = table(spark, sf_dir, "events")
    out = rollup(
        events,
        _RES,
        method,
        x_files_factor=xff,
        fine_resolution_seconds=_FINE,
        keys=("event_type",),
        ts_col="ts",
        value_col="value",
    )
    # + 1e-9 before rounding (the decontam bias, both engines): an avg
    # whose double sits last-ulp from a .5e-6 boundary rounds DIFFERENTLY
    # per summation order — the first full sf0.1 sweep (round 13) caught
    # exactly one such group in 3600; the bias pushes the common
    # exact-half case off the boundary consistently
    return out.select(
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
        "n_points",
    ).orderBy("event_type", "bucket_epoch")


def _oracle_rollup(method: str, xff: float = 0.0) -> str:
    bucket = f"(CAST(floor(epoch(ts)) AS BIGINT) // {_RES}) * {_RES}"
    slots = _RES // _FINE
    exprs = {
        "average": "avg(value)",
        "sum": "sum(value)",
        "last": "max_by(value, ts)",
        "max": "max(value)",
        "min": "min(value)",
        "avg_zero": f"sum(value) / {slots}",
        "absmax": "max_by(value, abs(value))",
        "absmin": "min_by(value, abs(value))",
    }
    sql = (
        f"SELECT event_type, {bucket} AS bucket_epoch,"
        f" round({exprs[method]} + 1e-9, 6) AS value,"
        " count(value) AS n_points\n"
        "FROM events\nGROUP BY event_type, bucket_epoch"
    )
    if xff > 0.0:
        sql = f"SELECT * FROM ({sql}) WHERE n_points / {float(slots)} >= {xff}"
    return sql + "\nORDER BY event_type, bucket_epoch"


def _make(method: str, xff: float = 0.0, suffix: str = ""):
    name = f"rollup_{method}{suffix}"

    @register(name, oracle=_oracle_rollup(method, xff))
    def _q(spark: SparkSession, sf_dir: str, _m=method, _x=xff) -> DataFrame:
        return _spark_rollup(spark, sf_dir, _m, _x)

    _q.__name__ = name
    return _q


for _method in ("average", "sum", "last", "max", "min", "avg_zero", "absmax", "absmin"):
    _make(_method)
# xFilesFactor gate: emit a window only when ≥ 50% of expected slots filled
# (with ~2.8 events per (type, hour) and 6 slots, windows split both ways)
_make("average", xff=0.5, suffix="_xff")


@register(
    "rollup_cascade",
    oracle="""
WITH fine AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 60) * 60 AS bucket_epoch,
         avg(value) AS value,
         count(value) AS n_points
  FROM events
  GROUP BY user_id, bucket_epoch
)
SELECT user_id,
       (bucket_epoch // 3600) * 3600 AS bucket_epoch,
       round(avg(value), 6) AS value,
       count(value) AS n_points
FROM fine
GROUP BY user_id, 2
ORDER BY user_id, bucket_epoch
""",
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Whisper ARCHIVE CASCADE as one pipeline: raw → 60 s average →
    3600 s average-of-averages. Graphite aggregates each coarser archive
    from the next-FINER archive, not from raw points — so the unweighted
    avg-of-avgs here is the exact reference semantic
    (whisper_pandas.py:33-42 aggregation applied per archive level), and
    the composition rollup(rollup(x, 60), 3600) is the materialized view
    chain a Whisper file stores on disk. Two shuffles, each keyed on
    (user, bucket), with the second operating on ~1/60th of the rows."""
    ev = table(spark, sf_dir, "events")
    fine = rollup(
        ev, 60, "average", keys=("user_id",), ts_col="ts", value_col="value"
    )
    coarse = rollup(
        fine,
        3600,
        "average",
        keys=("user_id",),
        ts_col="bucket",
        value_col="value",
    )
    return coarse.select(
        "user_id",
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        F.round("value", 6).alias("value"),
        "n_points",
    ).orderBy("user_id", "bucket_epoch")


@register(
    "resample_gapfill",
    oracle="""
WITH pts AS (
  SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         round(avg(value), 6) AS v
  FROM events GROUP BY key, ep
), bounds AS (
  SELECT key, min(ep) AS mn, max(ep) AS mx FROM pts GROUP BY key
), grid AS (
  SELECT key, unnest(generate_series(
           CAST(ceil(mn / 3600.0) AS BIGINT) * 3600, mx, 3600)) AS ep
  FROM bounds
), u AS (
  SELECT key, ep, v, 0 AS is_grid, ep AS data_ep FROM pts
  UNION ALL
  SELECT key, ep, NULL, 1, NULL FROM grid
), w AS (
  SELECT key, ep, is_grid,
    last_value(v IGNORE NULLS) OVER
      (PARTITION BY key ORDER BY ep, is_grid
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(data_ep IGNORE NULLS) OVER
      (PARTITION BY key ORDER BY ep, is_grid
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(v IGNORE NULLS) OVER
      (PARTITION BY key ORDER BY ep, is_grid
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(data_ep IGNORE NULLS) OVER
      (PARTITION BY key ORDER BY ep, is_grid
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM u
)
SELECT key, ep AS grid_epoch, pv AS ffill,
  CASE WHEN ep = pt THEN pv
       ELSE round(pv + (nv - pv) * ((ep - pt)::DOUBLE / (nt - pt)::DOUBLE), 6)
  END AS interp
FROM w WHERE is_grid = 1
ORDER BY key, grid_epoch
""",
)
def resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with forward-fill AND linear interpolation
    (the pandas .resample().ffill()/.interpolate() the reference delegates
    to pandas) — one union + one window shuffle, no joins, no UDFs. The
    oracle replicates the identical union+window algorithm."""
    from whisper_pandas_spark.operators.resample import (
        resample_fill,
        resample_prepare,
    )

    ev = table(spark, sf_dir, "events")
    pts = resample_prepare(ev, "event_type", "ts", "value")
    return resample_fill(pts, 3600).orderBy("key", "grid_epoch")
