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
- the read is planned with `archive = i` (partition pruning: other
  archives' slot chunks are never planned) and the timestamp bounds (row
  pruning inside the decode, before Arrow) pushed into the whisper
  source's scan reader;
- a small read — at most :data:`LOCAL_FETCH_SLOTS` slots — runs that
  reader's plan and decode in the driver process and hands the Arrow
  batches to Spark as a local relation. A larger one goes through
  ``spark.read.format("whisper")``, where the same reader plans on the
  driver and decodes on the executors. The size is estimated first as
  files × slots of the selected archive (no extra I/O), then confirmed
  from the planned partitions, so a huge tree is never header-scanned
  twice.

A directory fetch assumes a uniform retention policy across the tree
(the normal Graphite deployment: one storage-schema rule per subtree)
and selects the archive from the first file's header.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

from whisper_pandas_spark.sources.format import list_whisper_files, read_header
from whisper_pandas_spark.sources.whisper import (
    WhisperDataSource,
    WhisperScanReader,
    register_whisper,
)

# Largest read (total planned slots) decoded in-process. Measured as the
# median of 5 fetch(...).toPandas() calls on one fully filled file, 4-core
# host, local[4], in-process vs distributed (the DataSource path: planner
# processes plus one job): 8,192 slots 0.10 vs 0.17 s; 16,384 0.12 vs
# 0.17 s; 32,768 0.14-0.16 vs 0.17-0.19 s; 49,152 0.18-0.21 vs 0.19 s;
# 65,536 0.27 vs 0.21-0.23 s; 131,072 0.51 vs 0.23 s. A LocalRelation
# built from an Arrow table costs ~0.1 s + ~3 µs per row, the DataSource
# path ~0.17 s + ~0.5 µs per row, so they cross near 40K rows. The bound
# stays under the crossover.
LOCAL_FETCH_SLOTS = 32_768


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

    Returns the standard whisper-source schema (nullability included)
    holding the selected archive's points in the time range. Both
    predicates reach the scan reader: archive prunes partitions at
    planning, timestamps mask rows before Arrow. ``now_epoch`` anchors
    the retention-coverage test (Graphite uses wall clock; pass it
    explicitly to stay deterministic).

    A read of at most :data:`LOCAL_FETCH_SLOTS` slots is decoded here, in
    the driver: the result is a snapshot taken at this call (Graphite's
    fetch is a point-in-time read), and a read error raises here rather
    than at the first action. A larger read returns a lazy
    ``spark.read.format("whisper")`` scan that re-reads the files on every
    action; only that branch registers the source on the session.
    """
    files = [path]
    if os.path.isdir(path) or any(ch in path for ch in "*?["):
        files = list_whisper_files(path)
        if not files:
            where = "under" if os.path.isdir(path) else "match"
            raise FileNotFoundError(f"no whisper files {where} {path!r}")

    anchor = until_epoch if now_epoch is None else now_epoch
    idx = select_archive(files[0], anchor - from_epoch, compression)
    points = read_header(files[0], compression).archives[idx].points
    if len(files) * points <= LOCAL_FETCH_SLOTS:
        # the three filters Spark pushes for the DataFrame filter below
        # (a TIMESTAMP literal arrives as a UTC datetime)
        lo, hi = (
            dt.datetime.fromtimestamp(e, dt.timezone.utc) for e in (from_epoch, until_epoch)
        )
        reader = WhisperScanReader({"path": path, "compression": compression})
        residual = list(reader.pushFilters([
            EqualTo(("archive",), idx),
            GreaterThanOrEqual(("timestamp",), lo),
            LessThanOrEqual(("timestamp",), hi),
        ]))
        parts = [] if residual else reader.partitions()
        if parts and sum(p.slot_count for p in parts) <= LOCAL_FETCH_SLOTS:
            # files[0] holds archive idx, so at least one batch (maybe empty)
            table = pa.Table.from_batches([b for p in parts for b in reader.read(p)])
            return spark.createDataFrame(table, WhisperDataSource(reader.options).schema())

    register_whisper(spark)
    df = spark.read.format("whisper").option("compression", compression).load(path)
    # plain column-vs-literal comparisons (timestamp_seconds of a literal
    # constant-folds), so BOTH predicates reach pushFilters — an
    # expression like unix_timestamp(ts) >= x would not push
    return df.filter(
        (F.col("archive") == F.lit(idx))
        & (F.col("timestamp") >= F.timestamp_seconds(F.lit(from_epoch)))
        & (F.col("timestamp") <= F.timestamp_seconds(F.lit(until_epoch)))
    )
