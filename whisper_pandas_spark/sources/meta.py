"""Metadata API over Whisper files: the reference's ``WhisperFileMeta`` /
``describe_*`` surface (whisper_pandas.py:75-85,147-168) as Spark DataFrames.

Header peeks are tiny (≤ 16+12·N bytes per file) and all run on the driver:
:func:`scan_headers` reads each matching file's header in turn and the
tables are driver-local frames, so the cost grows with the file count on
the driver alone; no Spark task reads a header.

The driver-side tables are built from Arrow, not from a Python list: a
list-built DataFrame pickles its rows through Python tasks in a worker pool
that never imports this package, so each of its tasks paid PySpark's
per-task import-cache reset (``session.py``). For the 6 rows of two files
that was 0.36 s and 0.8 CPU-s of Python workers per collect; from Arrow it
is 0.035 s and none.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from whisper_pandas_spark.sources.format import FileInfo, list_whisper_files, read_header

FILE_META_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("aggregation_method", StringType(), False),
        StructField("max_retention", LongType(), False),
        StructField("x_files_factor", FloatType(), False),
        StructField("archive_count", IntegerType(), False),
        StructField("header_size", LongType(), False),
        StructField("file_size", LongType(), False),
        StructField("file_size_actual", LongType(), False),
        StructField("file_size_mismatch", BooleanType(), False),
    ]
)

ARCHIVE_META_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("archive", IntegerType(), False),
        StructField("offset", LongType(), False),
        StructField("seconds_per_point", IntegerType(), False),
        StructField("points", IntegerType(), False),
        StructField("retention", LongType(), False),
        StructField("size", LongType(), False),
    ]
)


def _expand(paths: str | Iterable[str]) -> list[str]:
    if isinstance(paths, str):
        paths = [paths]
    out: list[str] = []
    for p in paths:
        # a non-directory path that matches nothing stays, so reading its
        # header raises FileNotFoundError
        hits = list_whisper_files(p)
        out.extend(hits if hits or os.path.isdir(p) else [p])
    return sorted(set(out))


def _local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """*rows* as a driver-local DataFrame with *schema*, built from Arrow."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


def scan_headers(paths: str | Iterable[str], compression: str = "infer") -> list[FileInfo]:
    """Driver-side header peek for each matching file."""
    return [read_header(f, compression) for f in _expand(paths)]


def file_meta(
    spark: SparkSession, paths: str | Iterable[str], compression: str = "infer"
) -> DataFrame:
    """File-level metadata table (describe_meta across many files —
    whisper_pandas.py:147-157, plus the derived size fields :125-145)."""
    rows = [
        (
            i.path,
            i.aggregation_method,
            i.max_retention,
            i.x_files_factor,
            i.archive_count,
            i.header_size,
            i.file_size,
            i.file_size_actual,
            i.file_size_mismatch,
        )
        for i in scan_headers(paths, compression)
    ]
    return _local_frame(spark, rows, FILE_META_SCHEMA)


def archive_meta(
    spark: SparkSession, paths: str | Iterable[str], compression: str = "infer"
) -> DataFrame:
    """Per-archive metadata table (describe_archives across files —
    whisper_pandas.py:75-85,159-163)."""
    rows = [
        (i.path, a.index, a.offset, a.seconds_per_point, a.points, a.retention, a.size)
        for i in scan_headers(paths, compression)
        for a in i.archives
    ]
    return _local_frame(spark, rows, ARCHIVE_META_SCHEMA)


def print_info(path: str, compression: str = "infer") -> None:
    """CLI-style info dump for one file (reference: print_info,
    whisper_pandas.py:165-168)."""
    info = read_header(path, compression)
    print(f"path:                {info.path}")
    print(f"aggregation_method:  {info.aggregation_method}")
    print(f"max_retention:       {info.max_retention}")
    print(f"x_files_factor:      {info.x_files_factor:g}")
    print(f"archive_count:       {info.archive_count}")
    print(f"header_size:         {info.header_size}")
    print(f"expected size:       {info.file_size}")
    print(f"actual size:         {info.file_size_actual}")
    print(f"size mismatch:       {info.file_size_mismatch}")
    print()
    print(f"{'archive':>7} {'seconds_per_point':>17} {'points':>10} "
          f"{'retention':>12} {'offset':>10} {'size':>12}")
    for a in info.archives:
        print(
            f"{a.index:>7} {a.seconds_per_point:>17} {a.points:>10} "
            f"{a.retention:>12} {a.offset:>10} {a.size:>12}"
        )
