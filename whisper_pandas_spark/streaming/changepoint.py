"""Streaming CUSUM-changepoint state maintenance.

Keeps the (group..., bucket_ts, y) integer bucket-sum table — the
mergeable state `operators/changepoint.py:cusum_from_buckets` reads
off — current from a stream: each micro-batch aggregates to its own
bucket sums (operators/changepoint.py:bucket_sums — the batch IS the
shard) and merges into the versioned state through
streaming/sink.py:maintain_table. Merge law: integer sum (additive), so
a checkpoint is required.

Why this shape at 100 TB: the state is O(groups x buckets) — days, not
events — each batch costs one partial aggregation over the BATCH, and
the shift detector (argmax |n·S_t − t·S_n|) runs over the tiny state
table on demand instead of rescanning raw history. Because every merge
is exact integer addition, the maintained state equals the batch
recompute bit-for-bit — which is exactly what the registry entry's
DuckDB oracle checks end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.streaming.sink import maintain_table


def stream_bucket_sums_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    time_col: str,
    value_col: str,
    *,
    bucket: str = "day",
    scale: int = 1000,
    checkpoint_dir: str,
):
    """Start a streaming query maintaining the per-*keys* bucket-sum
    table at ``base``. Returns the StreamingQuery; read the live state
    with ``spark.read.parquet(current_version_path(base))`` and detect
    shifts with :func:`...operators.changepoint.cusum_from_buckets`."""
    from whisper_pandas_spark.operators.changepoint import bucket_sums

    kcols = list(keys)

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_buckets = bucket_sums(
            batch_df, kcols, time_col, value_col, bucket=bucket, scale=scale
        )
        if prior is None:
            return batch_buckets
        return (
            prior.select(*kcols, "bucket_ts", "y")
            .unionByName(batch_buckets)
            .groupBy(*kcols, "bucket_ts")
            .agg(F.sum("y").alias("y"))
        )

    return maintain_table(
        sdf, base, step, checkpoint_dir, additive="bucket-sum"
    )
