"""Graphite-semantics `fetch`: time-range reads with automatic archive
selection.

Graphite's `whisper.fetch(path, from, until, now)` picks the FINEST
archive whose retention still covers `now - from` and serves the range
from it alone (whisper's on-read behavior; public docs:
https://graphite.readthedocs.io/en/latest/whisper.html — "data is
retrieved from the highest-precision archive that covers the requested
time period"). The reference package leaves this to the caller (you pick
`wsp.archives[i]` yourself, whisper_pandas.py:186-192); this module is
that missing read-path policy, Spark-style:

- archive selection happens on the DRIVER from a header peek (≤ 52 B per
  file — no data touched);
- the scan then pushes `archive = i` (partition pruning: other archives'
  slot chunks are never planned) and the timestamp bounds (row pruning
  inside the decode, before Arrow) down into the DataSource.

A directory fetch assumes a uniform retention policy across the tree
(the normal Graphite deployment: one storage-schema rule per subtree)
and selects the archive from the first file's header.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.sources.format import list_whisper_files, read_header


def select_archive(path: str, span_seconds: int, compression: str = "infer") -> int:
    """Finest archive index whose retention covers *span_seconds*
    (falls back to the coarsest, like Graphite serving a too-old from)."""
    info = read_header(path, compression)
    for a in info.archives:
        if a.retention >= span_seconds:
            return a.index
    return info.archives[-1].index


def fetch(
    spark: SparkSession,
    path: str,
    from_epoch: int,
    until_epoch: int,
    now_epoch: int | None = None,
    compression: str = "infer",
) -> DataFrame:
    """Read [from, until] from *path* (file, glob or directory) at the
    best available resolution.

    Returns the standard whisper-source schema filtered to the selected
    archive and the time range; both predicates reach the source (archive
    prunes partitions at planning, timestamps mask rows pre-Arrow).
    ``now_epoch`` anchors the retention-coverage test (Graphite uses wall
    clock; pass it explicitly to stay deterministic).
    """
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    probe = path
    if os.path.isdir(path) or any(ch in path for ch in "*?["):
        hits = list_whisper_files(path)
        if not hits:
            where = "under" if os.path.isdir(path) else "match"
            raise FileNotFoundError(f"no whisper files {where} {path!r}")
        probe = hits[0]

    anchor = until_epoch if now_epoch is None else now_epoch
    idx = select_archive(probe, anchor - from_epoch, compression)
    df = spark.read.format("whisper").option("compression", compression).load(path)
    # plain column-vs-literal comparisons (timestamp_seconds of a literal
    # constant-folds), so BOTH predicates reach pushFilters — an
    # expression like unix_timestamp(ts) >= x would not push
    return df.filter(
        (F.col("archive") == F.lit(idx))
        & (F.col("timestamp") >= F.timestamp_seconds(F.lit(from_epoch)))
        & (F.col("timestamp") <= F.timestamp_seconds(F.lit(until_epoch)))
    )
