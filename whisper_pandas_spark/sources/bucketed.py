"""Bucketed-table materialization — co-located joins without a shuffle.

At 100 TB the single most expensive recurring cost is re-shuffling the
same fact table on the same key for every join/aggregation. Spark's
answer is Hive-style bucketing: write the table hash-partitioned into a
fixed number of buckets on the join key (and optionally sorted within
buckets). Any later equi-join or aggregation on that key reads the
bucket layout from the catalog and SKIPS the exchange entirely — the
sort-merge join degenerates to a per-bucket merge (or zip, when both
sides are also sorted).

This module is the pipeline's "materialize once, join forever" step:
the analogue of the MinHash signature-table write in the dedup family,
but for relational co-location.

Requirements Spark imposes (and this wrapper encodes):
- bucketed tables must go through ``saveAsTable`` (the bucket metadata
  lives in the catalog, not in parquet footers);
- both join sides must be bucketed on the join key with the SAME bucket
  count (or an integer multiple, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    num_buckets: int,
    sort_cols: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Write *df* as a bucketed (optionally bucket-sorted) catalog table.

    ``path`` makes it an external table (data at *path*, metadata in the
    catalog) — useful for tests and for lake layouts where the warehouse
    dir is not the storage root. Existing table is replaced.
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        if isinstance(sort_cols, str):
            sort_cols = [sort_cols]
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
