"""Streaming multi-touch attribution: the incremental face of
queries_windows.py:attr_multitouch_linear (SURVEY §2.9 x Y173).

Conversions arrive continuously (a purchase stream); the touch history
they attribute over is the static (slowly-growing) events store. The
credit split for one conversion is a pure function of (conversion,
its own lookback touches) — batching the conversion stream any way at
all yields the same credited rows, so the maintainer is stateless per
batch plus one idempotent upsert keyed by conversion id:

- per batch: the SAME interval join + per-conversion window + integer
  ppm split as the batch entry (including the '(none)' direct bucket
  for untouched conversions);
- state: versioned ``credits`` rows (p_id, touch_type, val_cents,
  ppm); a re-delivered conversion re-derives exactly its rows and
  anti-joins away on p_id — full reprocess with a fresh checkpoint
  lands in unchanged state (the stream_er/stream_curation doctrine).

The read-off aggregates state to the batch entry's (touch_type)
census, so the batch oracle checks the streaming face VERBATIM.
Scale: each micro-batch broadcast-joins its conversions against the
touch store partitioned by user; state carries ids + cents + ppm
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize
from whisper_pandas_spark.streaming.sink import maintain_table


def _credit_batch(
    conv: DataFrame, touch: DataFrame, lookback_days: int, ppm: int
) -> DataFrame:
    """Credited rows (p_id, touch_type, val_cents, ppm) for one batch
    of conversions — the batch entry's arithmetic verbatim."""
    pairs = conv.join(touch, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_days} DAY")
        )
    )
    w = Window.partitionBy("p_id")
    credited = pairs.select(
        "touch_type",
        "p_id",
        "val_cents",
        F.row_number()
        .over(w.orderBy(F.col("t_ts"), F.col("t_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).select(
        "touch_type",
        "p_id",
        "val_cents",
        (
            F.expr(f"{ppm} div n")
            + F.when(F.col("rn") == 1, F.expr(f"{ppm} % n")).otherwise(
                F.lit(0)
            )
        ).alias("ppm"),
    )
    direct = conv.join(
        pairs.select("p_id").distinct(), "p_id", "left_anti"
    ).select(
        F.lit("(none)").alias("touch_type"),
        "p_id",
        "val_cents",
        F.lit(ppm).cast("bigint").alias("ppm"),
    )
    return credited.unionByName(direct)


def stream_attribution(
    sdf_conv: DataFrame,
    touch: DataFrame,
    base: str,
    lookback_days: int,
    ppm: int,
    checkpoint_dir: str | None = None,
):
    """Start the attribution maintainer over a conversion stream
    ``(p_id, user_id, p_ts, val_cents)``. One versioned state table
    lands under *base*: ``credits``. Merge law: insert-if-absent on
    p_id (idempotent)."""

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        rows = stage_materialize(
            _credit_batch(batch_df, touch, lookback_days, ppm)
        )
        if prev is None:
            return rows
        fresh = rows.join(
            prev.select("p_id").distinct(), "p_id", "left_anti"
        )  # idempotent: a re-delivered conversion re-derives its rows
        return prev.unionByName(fresh)

    return maintain_table(sdf_conv, f"{base}/credits", step, checkpoint_dir)


def attribution_read_off(spark, base: str) -> DataFrame:
    """Aggregate the credits state to the batch entry's census."""
    from whisper_pandas_spark.operators.merge import current_version_path

    cur = current_version_path(f"{base}/credits")
    return (
        spark.read.parquet(cur)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.countDistinct("p_id").cast("bigint").alias("n_conversions"),
            F.sum("ppm").cast("bigint").alias("credit_ppm"),
            F.sum(F.col("ppm") * F.col("val_cents"))
            .cast("bigint")
            .alias("rev_credit"),
        )
        .orderBy("touch_type")
    )
