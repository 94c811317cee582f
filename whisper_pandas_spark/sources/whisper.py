"""``spark.read.format("whisper")`` — a PySpark Python DataSource over
Graphite WhisperDB files.

Architecture (Spark-first; contrast with the reference's single-process
whole-file-in-RAM decoder, ``/root/reference/whisper_pandas.py:244-275``):

- **Driver**: globs the load path and peeks only headers (≤ 16+12·N bytes
  per file, :func:`~whisper_pandas_spark.sources.format.read_header`), then
  plans one input partition per (file, archive, slot-chunk). A directory of
  .wsp files becomes ONE DataFrame with a ``metric`` column — the unit of
  parallelism is the archive chunk, not the file, so a 100 TB tree of
  metrics scans with full cluster width.
- **Executors**: each partition slices its own byte range, decodes with a
  zero-copy numpy structured view, applies scan-side pruning
  (``drop_time_zero``, pushed timestamp bounds), normalizes endianness
  once, and emits Arrow RecordBatches straight into the JVM.

Options (names and defaults mirror the reference's ``to_frame`` /
``read`` flags, whisper_pandas.py:186-192, 245):

===================  =========  ====================================================
option               default    meaning
===================  =========  ====================================================
``compression``      ``infer``  ``infer`` (by ``.gz`` suffix) / ``none`` / ``gzip``
``dtype``            float64    value column type: ``float64`` or ``float32``
``to_datetime``      true       timestamp column as TIMESTAMP (UTC); false → LONG epoch seconds
``drop_time_zero``   true       drop never-filled ring slots (timestamp == 0)
``time_sort``        true       chronological order within each archive partition
``chunk_points``     adaptive   max slots per scan partition (archive splitting); default sizes the tree to ~2 tasks/core within [512K, 4M] — pin explicitly on a cluster
``base_dir``         (glob)     prefix stripped when deriving ``metric`` from the path
``on_error``         fail       ``skip`` drops unreadable files (plan time) and truncated data ranges (scan time) instead of failing the job — parquet's ``ignoreCorruptFiles`` contract
===================  =========  ====================================================

Output schema: ``metric STRING, archive INT, slot INT, timestamp
TIMESTAMP|LONG, value DOUBLE|FLOAT`` — ``slot`` materializes the ring-buffer
position the reference keeps as the pandas row index
(whisper_pandas.py:207-210).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from struct import error as struct_error

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from whisper_pandas_spark.sources.format import (
    ArchiveInfo,
    list_whisper_files,
    read_file_bytes,
    read_header,
    read_points,
    resolve_compression,
)

# 6 MiB of raw points per partition. Measured on the reference-geometry
# 83 MB fixture (bench.py, best-of-3 per size): 2M→1.07 s, 1M→0.95 s,
# 512K→0.80 s, 256K→0.86 s, 128K→1.46 s on local[32] — 512K chunks (14
# tasks) balance parallelism against per-task Python-worker overhead.
# That overhead was measured again on a 4-core host, local[4], as
# Python-worker CPU from /proc: a trivial task cost 177-222 ms while
# PySpark's per-task import-cache reset re-read pyspark.zip, and 19 ms
# since session.py keeps zip directories; a scan task over two 83 MB
# files (12 tasks) cost 0.30 CPU-s before and 0.12 after. The sizes
# above predate that change. The split stays
# coarse enough for a 1000-executor cluster (where
# cross-FILE parallelism dominates and within-file splitting only has to
# keep a few giant files from serializing).
DEFAULT_CHUNK_POINTS = 512 * 1024


def _boolopt(options, key: str, default: bool) -> bool:
    raw = options.get(key)
    if raw is None:
        return default
    return str(raw).strip().lower() in ("true", "1", "yes")


def metric_name(path: str, base_dir: str | None) -> str:
    """Graphite metric name from a file path: relative to *base_dir*,
    extensions stripped, path separators → dots (``a/b/cpu.wsp`` →
    ``a.b.cpu``)."""
    p = path
    if base_dir and p.startswith(base_dir.rstrip(os.sep) + os.sep):
        p = p[len(base_dir.rstrip(os.sep)) + 1 :]
    if p.endswith(".gz"):
        p = p[: -len(".gz")]
    if p.endswith(".wsp"):
        p = p[: -len(".wsp")]
    return p.strip(os.sep).replace(os.sep, ".")


@dataclass
class WhisperPartition(InputPartition):
    """One scan task: a slot range of one archive of one file.

    ts_lo/ts_hi are OPTIONAL per-partition inclusive epoch bounds — the
    streaming reader plans each micro-batch's window into its partitions
    (executors apply them in the decode mask exactly like pushed
    timestamp filters); batch partitions leave them None.
    """

    path: str
    compression: str  # resolved: "none" | "gzip"
    metric: str
    archive_index: int
    offset: int
    seconds_per_point: int
    points: int  # total slots in the archive (for slot math)
    slot_start: int
    slot_count: int
    ts_lo: int | None = None
    ts_hi: int | None = None


class WhisperDataSource(DataSource):
    """Python DataSource: ``spark.read.format("whisper").load(glob)``."""

    @classmethod
    def name(cls) -> str:
        return "whisper"

    def schema(self) -> StructType:
        to_datetime = _boolopt(self.options, "to_datetime", True)
        dtype = str(self.options.get("dtype") or "float64").lower()
        if dtype not in ("float64", "double", "float32", "float"):
            raise ValueError(f"Invalid dtype: {dtype!r} (float64 or float32)")
        ts_type = TimestampType() if to_datetime else LongType()
        val_type = DoubleType() if dtype in ("float64", "double") else FloatType()
        return StructType(
            [
                StructField("metric", StringType(), False),
                StructField("archive", IntegerType(), False),
                StructField("slot", IntegerType(), False),
                StructField("timestamp", ts_type, False),
                StructField("value", val_type, False),
            ]
        )

    def reader(self, schema: StructType) -> "WhisperScanReader":
        return WhisperScanReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        # Write support exceeds reference parity (the reference leaves
        # writing as TBD, whisper_pandas.ipynb cell 39).
        from whisper_pandas_spark.sources.whisper_write import WhisperWriter

        return WhisperWriter(self.options)

    def streamReader(self, schema: StructType):
        # `spark.readStream.format("whisper")` — tail the tree's finest
        # archive as a live stream with DISTRIBUTED micro-batch scans
        # (streaming/source.py).
        from whisper_pandas_spark.streaming.source import WhisperStreamReader

        return WhisperStreamReader(self.options)


class WhisperScanReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.options = options
        # single path arrives as "path"; load([p1, p2, ...]) arrives as a
        # JSON-encoded "paths" array
        path = options.get("path")
        multi = options.get("paths")
        if multi:
            import json

            self.paths: list[str] = list(json.loads(multi))
        elif path:
            self.paths = [path]
        else:
            raise ValueError("whisper source requires a load path")
        self.path = self.paths[0]
        self.compression = str(options.get("compression") or "infer")
        resolve_compression("x.wsp", self.compression)  # validate early
        self.to_datetime = _boolopt(options, "to_datetime", True)
        dtype = str(options.get("dtype") or "float64").lower()
        self.value_dtype = "float32" if dtype in ("float32", "float") else "float64"
        self.drop_time_zero = _boolopt(options, "drop_time_zero", True)
        self.time_sort = _boolopt(options, "time_sort", True)
        # None → adaptive at plan time (see partitions()); explicit option
        # pins it (the right call on a real cluster, where driver cores say
        # nothing about executor count).
        _cp = options.get("chunk_points")
        self.chunk_points = int(_cp) if _cp else None
        # fail (default): any unreadable/corrupt file aborts the scan.
        # skip: log-and-drop it at plan time — at a million-file tree one
        # half-written file must not kill the job (parquet's
        # ignoreCorruptFiles, same contract).
        self.on_error = str(options.get("on_error") or "fail").lower()
        if self.on_error not in ("fail", "skip"):
            raise ValueError(
                f"on_error must be 'fail' or 'skip', got {self.on_error!r}"
            )
        self.base_dir = options.get("base_dir")
        # populated by pushFilters; applied during partition planning / scan
        self._metric_eq: set[str] | None = None
        # conjunctive substring predicates on metric: ("prefix"|"suffix"|
        # "contains", value) — the Graphite subtree pattern `srv.*`
        self._metric_like: list[tuple[str, str]] = []
        self._archive_eq: set[int] | None = None
        self._ts_lo: int | None = None  # inclusive epoch-seconds lower bound
        self._ts_hi: int | None = None  # inclusive epoch-seconds upper bound

    # -- filter pushdown -------------------------------------------------
    @staticmethod
    def _epoch(value) -> int | None:
        """Filter literal → epoch seconds, or None if not convertible.

        With to_datetime=true the column is TIMESTAMP and literals arrive
        as datetime objects (session TZ is pinned UTC); with false the
        column is LONG epochs. Anything ambiguous returns None and the
        filter is handed back to Spark — pushdown must never be lossy.
        """
        import datetime as dt

        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return value
        if isinstance(value, dt.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=dt.timezone.utc)
            ts = value.timestamp()
            return int(ts) if ts == int(ts) else None
        return None

    def pushFilters(self, filters: list[Filter]):
        """Consume metric equality/substring predicates (exact partition
        pruning on the driver — `metric LIKE 'srv.%'` is the Graphite
        subtree pattern), archive equality (same), and timestamp bounds
        (exact scan-side mask before the Arrow batch is built — the same
        position as the reference's ``drop_time_zero`` mask,
        whisper_pandas.py:214-215); everything else is returned for Spark
        to evaluate post-scan.

        Note: slot chunks are RING-BUFFER ranges, so a timestamp bound
        cannot prune partitions (any slot range may hold any time range);
        it only prunes rows inside the decode, which still saves the
        Arrow transfer and all downstream work.
        """
        def _narrow(current: set | None, new: set) -> set:
            # Filters in a conjunction INTERSECT: `metric = 'a' AND metric
            # IN ('a','b')` must keep {'a'} regardless of arrival order —
            # overwriting would make pushdown lossy.
            return new if current is None else (current & new)

        for f in filters:
            attr = ".".join(f.attribute) if isinstance(f.attribute, tuple) else str(f.attribute)
            if isinstance(f, EqualTo) and attr == "metric":
                self._metric_eq = _narrow(self._metric_eq, {f.value})
            elif isinstance(f, In) and attr == "metric":
                self._metric_eq = _narrow(self._metric_eq, set(f.values))
            elif isinstance(f, StringStartsWith) and attr == "metric":
                self._metric_like.append(("prefix", str(f.value)))
            elif isinstance(f, StringEndsWith) and attr == "metric":
                self._metric_like.append(("suffix", str(f.value)))
            elif isinstance(f, StringContains) and attr == "metric":
                self._metric_like.append(("contains", str(f.value)))
            elif isinstance(f, EqualTo) and attr == "archive":
                self._archive_eq = _narrow(self._archive_eq, {int(f.value)})
            elif isinstance(f, In) and attr == "archive":
                self._archive_eq = _narrow(self._archive_eq, {int(v) for v in f.values})
            elif attr == "timestamp" and isinstance(
                f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
            ):
                ep = self._epoch(f.value)
                if ep is None:
                    yield f
                    continue
                if isinstance(f, GreaterThan):
                    lo = ep + 1
                    self._ts_lo = lo if self._ts_lo is None else max(self._ts_lo, lo)
                elif isinstance(f, GreaterThanOrEqual):
                    self._ts_lo = ep if self._ts_lo is None else max(self._ts_lo, ep)
                elif isinstance(f, LessThan):
                    hi = ep - 1
                    self._ts_hi = hi if self._ts_hi is None else min(self._ts_hi, hi)
                else:
                    self._ts_hi = ep if self._ts_hi is None else min(self._ts_hi, ep)
            else:
                yield f

    # -- planning (driver) ------------------------------------------------
    def _files(self) -> list[str]:
        files: list[str] = []
        bases: list[str] = []
        for path in self.paths:
            files.extend(list_whisper_files(path))
            if os.path.isdir(path):
                bases.append(path)
            else:
                bases.append(os.path.dirname(path.split("*")[0]))
        # metric derivation base: common prefix of all contributing bases
        self._base = os.path.commonpath(bases) if bases else ""
        if not files:
            raise FileNotFoundError(f"no whisper files match {self.paths!r}")
        return sorted(set(files))

    def partitions(self) -> list[WhisperPartition]:
        # Survivors of metric pruning, with headers read once.
        planned: list[tuple[str, str, "FileInfo"]] = []
        base = self.base_dir
        for f in self._files():
            metric = metric_name(f, base if base is not None else self._base)
            if self._metric_eq is not None and metric not in self._metric_eq:
                continue
            if not all(
                (kind == "prefix" and metric.startswith(v))
                or (kind == "suffix" and metric.endswith(v))
                or (kind == "contains" and v in metric)
                for kind, v in self._metric_like
            ):
                continue
            try:
                info = read_header(f, self.compression)
            except (ValueError, KeyError, OSError, struct_error) as exc:
                if self.on_error == "skip":
                    import sys

                    print(
                        f"whisper: skipping unreadable file {f}: {exc}",
                        file=sys.stderr,
                    )
                    continue
                raise
            planned.append((f, metric, info))

        chunk_points = self.chunk_points
        if chunk_points is None:
            # Adaptive sizing: ~2 tasks per local core over the WHOLE tree,
            # clamped to [DEFAULT_CHUNK_POINTS, 4M]. One 83 MB file → the
            # floor (14 tasks, measured best); a 1 GB/12-file tree → ~1.3M
            # chunks (tree-level parallelism already saturates the pool, so
            # fewer, larger tasks cut per-task Python-worker overhead —
            # 512K chunks measured 1.8× slower there, while each Python
            # task still paid ~0.2 CPU-s of fixed cost; now ~19 ms, see
            # DEFAULT_CHUNK_POINTS). Cluster deployments should pin
            # `chunk_points` explicitly.
            total = sum(
                a.points
                for _, _, info in planned
                for a in info.archives
                if self._archive_eq is None or a.index in self._archive_eq
            )
            target = 2 * (os.cpu_count() or 8)
            chunk_points = min(max(total // max(target, 1), DEFAULT_CHUNK_POINTS), 4 * 1024 * 1024)

        parts: list[WhisperPartition] = []
        for f, metric, info in planned:
            for arch in info.archives:
                if self._archive_eq is not None and arch.index not in self._archive_eq:
                    continue
                # gzip has no random access: keep the archive whole so each
                # partition decompresses the file at most once.
                chunk = arch.points if info.compression == "gzip" else chunk_points
                for start in range(0, arch.points, chunk):
                    parts.append(
                        WhisperPartition(
                            path=f,
                            compression=info.compression,
                            metric=metric,
                            archive_index=arch.index,
                            offset=arch.offset,
                            seconds_per_point=arch.seconds_per_point,
                            points=arch.points,
                            slot_start=start,
                            slot_count=min(chunk, arch.points - start),
                        )
                    )
        if not parts:
            # every partition pruned (e.g. metric filter matched nothing):
            # Spark invokes read(None) when the list is empty, so plan one
            # explicit empty sentinel instead
            parts.append(
                WhisperPartition(
                    path="", compression="none", metric="", archive_index=0,
                    offset=0, seconds_per_point=0, points=0,
                    slot_start=0, slot_count=0,
                )
            )
        return parts

    # -- scan (executors) --------------------------------------------------
    def read(self, partition: WhisperPartition):
        import numpy as np
        import pyarrow as pa

        p = partition
        if not p.path:  # the pruned-to-nothing sentinel: no rows
            return
        try:
            if p.compression == "gzip":
                buffer = read_file_bytes(p.path, "gzip")
                arch = ArchiveInfo(
                    p.archive_index, p.offset, p.seconds_per_point, p.points
                )
                data = read_points(buffer, arch, p.slot_start, p.slot_count)
            else:
                # Byte-range read: only this partition's slice leaves the disk.
                with open(p.path, "rb") as fh:
                    fh.seek(p.offset + 12 * p.slot_start)
                    raw = fh.read(12 * p.slot_count)
                buffer = raw
                arch = ArchiveInfo(
                    p.archive_index, 0, p.seconds_per_point, p.slot_count
                )
                data = read_points(buffer, arch, 0, p.slot_count)
        except (ValueError, OSError, struct_error) as exc:
            # Header parsed at plan time but the DATA section is short or
            # unreadable (half-written file). skip: this partition yields
            # nothing; other partitions — and other files — are unaffected.
            if self.on_error == "skip":
                import sys

                print(
                    f"whisper: skipping unreadable range of {p.path}: {exc}",
                    file=sys.stderr,
                )
                return
            raise

        ts = data["timestamp"].astype("int64")  # endianness + width normalize
        slots = np.arange(p.slot_start, p.slot_start + p.slot_count, dtype="int32")

        mask = None
        if self.drop_time_zero:
            mask = ts != 0
        lo = self._ts_lo
        if p.ts_lo is not None:
            lo = p.ts_lo if lo is None else max(lo, p.ts_lo)
        hi = self._ts_hi
        if p.ts_hi is not None:
            hi = p.ts_hi if hi is None else min(hi, p.ts_hi)
        if lo is not None:
            m = ts >= lo
            mask = m if mask is None else (mask & m)
        if hi is not None:
            m = ts <= hi
            mask = m if mask is None else (mask & m)
        if mask is not None:
            ts = ts[mask]
            slots = slots[mask]
            vals = data["value"][mask].astype(self.value_dtype)
        else:
            vals = data["value"].astype(self.value_dtype)

        if self.time_sort and len(ts) > 1:
            order = np.argsort(ts, kind="stable")
            ts, slots, vals = ts[order], slots[order], vals[order]

        if self.to_datetime:
            ts_arr = pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC"))
        else:
            ts_arr = pa.array(ts, type=pa.int64())
        val_type = pa.float32() if self.value_dtype == "float32" else pa.float64()

        yield pa.RecordBatch.from_arrays(
            [
                # C-level fill — a Python list of len(ts) identical strings
                # costs ~100 ms per 1M-slot partition
                pa.repeat(pa.scalar(p.metric, type=pa.string()), len(ts)),
                pa.array(np.full(len(ts), p.archive_index, dtype="int32"), type=pa.int32()),
                pa.array(slots, type=pa.int32()),
                ts_arr,
                pa.array(vals, type=val_type),
            ],
            names=["metric", "archive", "slot", "timestamp", "value"],
        )


def register_whisper(spark) -> None:
    """Register the source so ``spark.read.format("whisper")`` resolves.

    Also enables Python-datasource filter pushdown on the session: Spark
    REFUSES to initialize a reader that overrides ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false (the default), so
    a host session that didn't set it would fail on first read.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WhisperDataSource)
