"""Structured Streaming rollup — live-metric ingestion with Whisper
semantics (SURVEY.md §2.9).

A Whisper file's archive set is a cascade of tumbling-window rollups
(whisper_pandas.py:33-42 enum; coarsening archives per README.md:19-21);
its late/duplicate policy is last-write-wins per slot
(whisper_pandas.py:201-215, ring-slot overwrite). Streaming equivalents:

- `streaming_rollup`    : readStream → withWatermark → groupBy(window(...))
  with the same 8-method aggregation map as the batch operator
  (operators/rollup.py). The batch path buckets with epoch arithmetic
  (oracle-parity + codegen); the streaming path MUST use `F.window()` —
  that is the construct the watermark machinery recognizes for state
  eviction. Same alignment (windows are epoch-aligned), so batch and
  streaming agree bucket-for-bucket (asserted in tests).
- `dedup_last_wins`     : duplicate slot writes resolved to the latest
  arrival inside the watermark — ``dropDuplicatesWithinWatermark`` on
  (keys, slot-aligned timestamp).

Scale: the state store holds one row per (keys, open window); the
watermark bounds state size — without it a 100 TB stream would
accumulate state forever. xFilesFactor gating and avg_zero divide by
EXPECTED slots (coarse/fine ratio), exactly as in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.rollup import _whisper_agg


def streaming_rollup(
    sdf: DataFrame,
    resolution_seconds: int,
    method: str = "average",
    x_files_factor: float = 0.0,
    fine_resolution_seconds: int | None = None,
    keys: tuple[str, ...] = ("metric",),
    ts_col: str = "timestamp",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming tumbling-window rollup with Whisper method semantics.

    Returns ``*keys, bucket TIMESTAMP, value DOUBLE, n_points LONG`` —
    the same contract as the batch :func:`~operators.rollup.rollup`, with
    ``bucket = window.start``.
    """
    aggs, keep = _whisper_agg(
        resolution_seconds, method, x_files_factor, fine_resolution_seconds,
        ts_col, value_col,
    )
    win = F.window(ts_col, f"{resolution_seconds} seconds")
    out = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(*keys, win.alias("win"))
        .agg(*aggs)
        .select(*keys, F.col("win.start").alias("bucket"), "value", "n_points")
    )
    return out if keep is None else out.filter(keep)


def dedup_last_wins(
    sdf: DataFrame,
    slot_seconds: int,
    keys: tuple[str, ...] = ("metric",),
    ts_col: str = "timestamp",
    watermark: str = "1 hour",
) -> DataFrame:
    """Whisper's slot-overwrite policy on a stream: one row per
    (keys, slot), duplicates inside the watermark collapsed.

    Note: ``dropDuplicatesWithinWatermark`` keeps the FIRST arrival per
    key; Whisper keeps the LAST write. For exact last-write-wins use the
    rollup with method='last' at slot resolution — kept here as the
    cheap dedup (no value aggregation state) for at-least-once sources
    where duplicates are retries of the same value.
    """
    epoch = F.unix_timestamp(F.col(ts_col))
    slot = F.timestamp_seconds(epoch - (epoch % F.lit(slot_seconds)))
    return (
        sdf.withColumn("slot", slot)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([*keys, "slot"])
    )
