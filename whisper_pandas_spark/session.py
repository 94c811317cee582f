"""SparkSession factory.

Pins the settings every operator in this package assumes:

- ``spark.sql.session.timeZone=UTC`` — Whisper timestamps are u32 epoch
  seconds interpreted as UTC (reference: ``whisper_pandas.py:222-223``
  converts with ``utc=True``); also required for DuckDB-oracle comparison
  (DuckDB timestamps are UTC-naive).
- AQE on — runtime coalescing, broadcast-conversion and skew-join handling
  stand in for hand-tuned shuffle planning at 100 TB.
- Arrow on — every Python<->JVM crossing (Pandas UDFs, the Whisper
  DataSource reader, createDataFrame) is Arrow-batched.

Importing this module (the package ``__init__`` does, so every Spark Python
process that runs engine code does: the driver, executor workers and the
DataSource planner workers) also makes a zip importer keep its directory
while its archive is unchanged:

- PySpark calls ``importlib.invalidate_caches()`` at the start of every
  Python task and every planner call (``worker_util.setup_spark_files``),
  and CPython 3.11's ``zipimporter.invalidate_caches`` re-parses its whole
  archive directory in pure Python, once per importer. An executor worker
  holds 16 importers, on ``pyspark.zip`` (1,328 entries) and the py4j zip,
  so on a 4-core host a trivial task cost 177–222 ms of Python-worker CPU
  (19 ms after), a whisper ``load()`` 192 ms (12 ms after), and the call
  took three fifths of the Python workers' CPU in a whisper scan.
- Now every directory read records the archive's ``(st_mtime_ns,
  st_size)``, taken just before it reads, and ``invalidate_caches`` hands
  the importer that directory while the stamp still matches. A changed
  archive is re-read and a missing one (``stat`` fails) takes CPython's own
  path, so an import after a rewrite still sees the new archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _keep_zip_directories() -> None:
    """Install the zip-directory rule of the module docstring, once.

    Importers that exist already are refreshed through it, one read per
    archive, so each starts from a directory whose stamp is known."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "keeps_directory", False):
        return
    read_directory = zipimport._read_directory
    last_read: dict[str, tuple[tuple[int, int], dict]] = {}

    def stamp(archive: str) -> tuple[int, int]:
        st = os.stat(archive)
        return st.st_mtime_ns, st.st_size

    def stamped_read(archive):
        try:
            at = stamp(archive)
        except OSError:
            return read_directory(archive)
        files = read_directory(archive)
        last_read[archive] = (at, files)
        return files

    def invalidate_caches(self):
        seen = last_read.get(self.archive)
        try:
            fresh = seen is not None and seen[0] == stamp(self.archive)
        except OSError:
            fresh = False
        if not fresh:
            return original(self)
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]

    invalidate_caches.keeps_directory = True
    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_keep_zip_directories()


def get_spark(
    app_name: str = "whisper_pandas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local test/bench runs use ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster the master comes from the environment and these configs are
    cluster-safe (AQE adjusts shuffle parallelism at runtime, so the static
    ``shuffle.partitions`` value is only the pre-AQE upper bound).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # allow Python DataSources (the Whisper reader) to receive filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
