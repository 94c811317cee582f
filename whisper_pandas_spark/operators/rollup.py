"""The Whisper rollup family as Spark aggregations.

A Whisper file's coarser archives are materialized tumbling-window rollups
of the finest archive, computed with the file-level aggregation method and
gated by ``xFilesFactor`` (reference enum: whisper_pandas.py:33-42; fields
:24,93-95; semantics per the Graphite docs cited at whisper_pandas.py:19).
The reference only *decodes* those rollups; this module lets the engine
*compute* them — the defining query of the tsdb domain.

Design notes for scale:

- The bucket is plain epoch arithmetic (``epoch div R × R``), not
  ``F.window()``: it is a deterministic scalar expression (whole-stage
  codegen, partial aggregation, and a DuckDB-expressible oracle), and it
  avoids ``window()``'s struct output.
- One ``groupBy(keys, bucket)`` → a single shuffle keyed on
  (metric, bucket); map-side partial aggregation handles the heavy lifting,
  so the shuffle carries one row per (metric, bucket), not per point.
- ``avg_zero`` and the xFilesFactor gate divide by *expected* slots per
  window (coarse/fine resolution ratio), never by observed counts —
  the classic off-by-semantics trap (SURVEY.md §7 hard-problem 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: method name → aggregate expression builder (value_col, ts_col) -> Column
_METHODS = {
    "average": lambda v, t: F.avg(v),
    "sum": lambda v, t: F.sum(v),
    "last": lambda v, t: F.max_by(v, t),
    "max": lambda v, t: F.max(v),
    "min": lambda v, t: F.min(v),
    "absmax": lambda v, t: F.max_by(v, F.abs(v)),
    "absmin": lambda v, t: F.min_by(v, F.abs(v)),
    # avg_zero handled separately (needs slots_per_window)
}

ROLLUP_METHODS = tuple(_METHODS) + ("avg_zero",)


def time_bucket(ts: Column | str, resolution_seconds: int) -> Column:
    """Tumbling-window bucket start: ``epoch(ts) div R × R`` as a timestamp.

    Matches Whisper's slot alignment (``ts - (ts % spp)``).
    """
    ts = F.col(ts) if isinstance(ts, str) else ts
    epoch = F.unix_timestamp(ts)
    return F.timestamp_seconds((epoch - (epoch % F.lit(resolution_seconds))))


def _whisper_agg(
    resolution_seconds: int,
    method: str,
    x_files_factor: float,
    fine_resolution_seconds: int | None,
    ts_col: str,
    value_col: str,
) -> tuple[list[Column], Column | None]:
    """The rollup's aggregates — ``value`` by *method* and ``n_points`` —
    and its xFilesFactor keep-condition (None when ungated). Shared by the
    batch :func:`rollup` and ``streaming.rollup.streaming_rollup``, which
    differ only in how they bucket."""
    if method not in ROLLUP_METHODS:
        raise ValueError(f"unknown rollup method {method!r}; one of {ROLLUP_METHODS}")
    needs_slots = method == "avg_zero" or x_files_factor > 0.0
    if needs_slots and not fine_resolution_seconds:
        raise ValueError(
            f"method {method!r} / xFilesFactor > 0 require fine_resolution_seconds"
        )

    v, t = F.col(value_col), F.col(ts_col)
    slots = resolution_seconds // fine_resolution_seconds if needs_slots else None
    if method == "avg_zero":
        agg = (F.sum(v) / F.lit(slots)).alias("value")
    else:
        agg = _METHODS[method](v, t).alias("value")
    keep = None
    if x_files_factor > 0.0:
        keep = F.col("n_points") / F.lit(float(slots)) >= F.lit(float(x_files_factor))
    return [agg, F.count(v).alias("n_points")], keep


def rollup(
    df: DataFrame,
    resolution_seconds: int,
    method: str = "average",
    x_files_factor: float = 0.0,
    fine_resolution_seconds: int | None = None,
    keys: tuple[str, ...] = ("metric",),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Roll *df* up to ``resolution_seconds`` with a Whisper method.

    Parameters mirror Whisper file semantics: *method* is one of the 8
    aggregation methods; *x_files_factor* ∈ [0,1] drops windows whose fill
    ratio (observed points / expected slots) is below the factor;
    *fine_resolution_seconds* is the input's native resolution (needed for
    ``avg_zero`` and any non-zero xFilesFactor).

    Returns columns: ``*keys, bucket TIMESTAMP, value DOUBLE, n_points LONG``.
    """
    aggs, keep = _whisper_agg(
        resolution_seconds, method, x_files_factor, fine_resolution_seconds,
        ts_col, value_col,
    )
    out = df.groupBy(
        *keys, time_bucket(ts_col, resolution_seconds).alias("bucket")
    ).agg(*aggs)
    return out if keep is None else out.filter(keep)
