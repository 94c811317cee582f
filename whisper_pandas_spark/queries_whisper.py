"""Registry entries exercising the Whisper DataSource itself (§2.1 S1–S5):
scan + rollup, archive meta, Graphite fetch, and the write round trip.

DuckDB cannot read .wsp, so these entries use the WRITE path to close
the loop instead of going rows-only: the fixture tree is derived from
the `events` PARQUET table through df.write.format("whisper")
(``_roundtrip_tree`` — deterministic points, fixed geometry), which
means a DuckDB oracle can recompute the expected scan/fetch/meta output
straight from the parquet in SQL. Every entry here is a FULL value-hash
check: scan decode, Graphite fetch semantics, and header/metadata
arithmetic are all verified against an engine that never touches a .wsp
byte. ``whisper_write_roundtrip`` checks the writer itself (ring-buffer
assembly, cascade rollup to the coarse archive, xFilesFactor gate) PER
SLOT. Byte-level goldens against the reference geometry (3-archive, ring
wrap, gzip) stay in tests/test_whisper_source.py and
tests/test_reference_fixture.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, scratch_once, table

# Roundtrip fixture: the tree every entry here reads, written from
# `events` by ``_roundtrip_tree``.
RT_BASE = 1_599_999_960  # multiple of 60: coarse buckets align at slot 0
RT_CAP = 5000  # per-metric point cap: bounds runtime + stays in retention
RT_ARCHIVES = "10:8000,60:2000"  # fine span 50 000 s < both retentions
RT_XFF = 0.5  # coarse slot kept iff >= 3 of its 6 expected fine slots

# SQL CTE recomputing the exact points the writer stored, straight from
# the `events` parquet — the shared oracle base for every entry that
# reads the roundtrip tree.
RT_PTS_CTE = f"""
WITH ranked AS (
  SELECT event_type AS metric, user_id,
         row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events
), pts AS (
  SELECT metric, {RT_BASE} + 10 * rn AS epoch,
         CAST(user_id % 997 AS DOUBLE) AS value
  FROM ranked WHERE rn <= {RT_CAP}
)"""

# fetch window: archive 0 (retention 80 000 s) must cover now - from
FETCH_FROM = RT_BASE + 10
FETCH_UNTIL = RT_BASE + 5000
FETCH_NOW = RT_BASE + 60_000  # span 59 990 s < 80 000 s -> finest archive


@register(
    "whisper_scan_rollup",
    oracle=f"""
{RT_PTS_CTE}
SELECT metric, epoch - (epoch % 60) AS bucket_epoch,
       avg(value) AS value, count(*) AS n_points
FROM pts GROUP BY metric, bucket_epoch
ORDER BY metric, bucket_epoch
""",
)
def whisper_scan_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1–S5 + A1 end-to-end: scan a directory of .wsp files as ONE
    DataFrame (metric column from the path), roll the finest archive up
    to 60 s averages. The tree is written from `events` by the whisper
    writer, so the oracle recomputes every bucket from parquet — a full
    value-hash check of the decode+rollup path (values are integer-valued
    doubles: sums are exact, the one closing division bit-identical)."""
    from whisper_pandas_spark.operators.rollup import rollup
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)

    d = _roundtrip_tree(spark, sf_dir)
    df = spark.read.format("whisper").option("base_dir", d).load(d)
    fine = df.filter(F.col("archive") == 0)
    return (
        rollup(fine, 60, "average")
        .select(
            "metric",
            F.unix_timestamp("bucket").alias("bucket_epoch"),
            "value",
            "n_points",
        )
        .orderBy("metric", "bucket_epoch")
    )


@register(
    "whisper_meta_table",
    oracle=f"""
WITH metrics AS (
  SELECT DISTINCT event_type FROM events
), arch(archive, "offset", seconds_per_point, points, retention, size) AS (
  VALUES (0, 40, 10, 8000, 80000, 96000),
         (1, 96040, 60, 2000, 120000, 24000)
)
SELECT event_type || '.wsp' AS path, archive, "offset",
       seconds_per_point, points, retention, size
FROM metrics CROSS JOIN arch
ORDER BY path, archive
""",
)
def whisper_meta_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4/A10/A11: header-only metadata DataFrame (the reference's
    describe_archives surface). The tree geometry is {RT_ARCHIVES}
    (header 16 + 2×12 = 40 B; archive sizes points×12), so the oracle
    states the spec arithmetic per metric file while Spark READS it back
    from the headers the writer assembled — offset/retention/size are
    value-checked, not just counted."""
    from whisper_pandas_spark.sources.meta import archive_meta

    d = _roundtrip_tree(spark, sf_dir)
    meta = archive_meta(spark, d)
    # basename only: the temp-dir prefix varies per process and would make
    # the output non-deterministic across runs
    return meta.withColumn(
        "path", F.element_at(F.split("path", "/"), -1)
    ).orderBy("path", "archive")


@register(
    "whisper_fetch_range",
    oracle=f"""
{RT_PTS_CTE}
SELECT metric, epoch, value FROM pts
WHERE epoch >= {FETCH_FROM} AND epoch <= {FETCH_UNTIL}
ORDER BY metric, epoch
""",
)
def whisper_fetch_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite fetch semantics (sources/fetch.py): finest archive
    covering the requested span, archive + timestamp predicates handed to
    the whisper scan reader (partition pruning + pre-Arrow row masking),
    decoded on the driver when the read is at most LOCAL_FETCH_SLOTS
    slots, else by the distributed DataSource scan. The oracle replays
    the same time filter over the parquet-derived points, so the pruned
    decode window is value-checked end to end; plan/pushdown goldens stay
    in tests/test_whisper_source.py."""
    from whisper_pandas_spark.sources.fetch import fetch

    d = _roundtrip_tree(spark, sf_dir)
    return (
        fetch(spark, d, FETCH_FROM, FETCH_UNTIL, now_epoch=FETCH_NOW)
        .select(
            "metric",
            F.col("timestamp").cast("long").alias("epoch"),
            "value",
        )
        .orderBy("metric", "epoch")
    )


def _roundtrip_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (metric, timestamp, value) frame from `events`:
    metric = event_type, timestamps a 10 s ramp per metric in arrival
    (event_id) order, values integer-valued doubles so every stored
    float — including the cascade's sum/count averages — is exact."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    return (
        ev.select("event_type", "event_id", "user_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RT_CAP)
        .select(
            F.col("event_type").alias("metric"),
            F.timestamp_seconds(
                F.lit(RT_BASE) + 10 * F.col("rn")
            ).alias("timestamp"),
            (F.col("user_id") % 997).cast("double").alias("value"),
        )
    )


def _roundtrip_tree(spark: SparkSession, sf_dir: str) -> str:
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    return scratch_once(
        "wps_roundtrip_",
        sf_dir,
        lambda d: write_whisper(
            _roundtrip_points(spark, sf_dir), d,
            archives=RT_ARCHIVES, aggregation="average",
            x_files_factor=RT_XFF,
        ),
    )


@register(
    "whisper_write_roundtrip",
    oracle=f"""
{RT_PTS_CTE}, coarse AS (
  SELECT metric, epoch - (epoch % 60) AS bepoch,
         sum(value) AS s, count(*) AS m
  FROM pts GROUP BY metric, bepoch
)
SELECT metric, 0 AS archive, epoch, value FROM pts
UNION ALL
SELECT metric, 1 AS archive, bepoch AS epoch, s / m AS value
FROM coarse WHERE m >= 3
ORDER BY metric, archive, epoch
""",
)
def whisper_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write deterministic points as .wsp (cascade + xff ON), scan them
    back, return EVERY stored point of both archives. The oracle
    recomputes the fine slots verbatim and the coarse slots as exact
    sum/count averages gated by m >= ceil(xff * 60/10) = 3 — so header
    assembly, ring-slot addressing, the rollup cascade, and the
    xFilesFactor gate are all value-checked slot by slot. Values are
    integer-valued doubles: per-bucket sums are exact in binary, and the
    single closing division is bit-identical on both engines."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d = _roundtrip_tree(spark, sf_dir)
    scan = spark.read.format("whisper").option("base_dir", d).load(d)
    return scan.select(
        "metric",
        "archive",
        F.col("timestamp").cast("long").alias("epoch"),
        "value",
    ).orderBy("metric", "archive", "epoch")
