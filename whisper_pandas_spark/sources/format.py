"""Graphite WhisperDB on-disk format: header parsing and file metadata.

Format (public spec:
https://graphite.readthedocs.io/en/latest/whisper.html#database-format;
reference decoder semantics at ``/root/reference/whisper_pandas.py:20-42``):

- all integers big-endian, fixed-width, row-oriented
- file header (16 B): ``aggregation_type u32, max_retention u32,
  x_files_factor f32, archive_count u32``
- per-archive header (12 B each, immediately after): ``offset u32,
  seconds_per_point u32, points u32``
- archive data: ``points`` × 12 B records ``(timestamp u32 epoch-seconds,
  value f64)``; ``timestamp == 0`` marks a never-filled ring slot
- archives form a ring buffer: physical slot order is write order modulo
  capacity, so chronological order requires a sort.

This module is driver-side only (header peeks are a few dozen bytes per
file); bulk point decode lives in the executor-side reader
(:mod:`whisper_pandas_spark.sources.whisper`).
"""

from __future__ import annotations

import glob
import gzip
import os
import struct
from dataclasses import dataclass, field

import numpy as np

FILE_HEADER = struct.Struct(">LLfL")  # aggregation_type, max_retention, xff, archive_count
ARCHIVE_HEADER = struct.Struct(">LLL")  # offset, seconds_per_point, points
POINT_SIZE = 12  # u32 timestamp + f64 value
POINT_DTYPE = np.dtype([("timestamp", ">u4"), ("value", ">f8")])

#: Whisper aggregation-method enum (reference: whisper_pandas.py:33-42).
AGGREGATION_METHODS = {
    1: "average",
    2: "sum",
    3: "last",
    4: "max",
    5: "min",
    6: "avg_zero",
    7: "absmax",
    8: "absmin",
}

VALID_COMPRESSIONS = ("infer", "none", "gzip")


def resolve_compression(path: str, compression: str = "infer") -> str:
    """Resolve the effective compression for *path*.

    Mirrors the reference's inference-by-suffix and its ``ValueError`` on an
    unknown value (``whisper_pandas.py:257-271``).
    """
    if compression not in VALID_COMPRESSIONS:
        raise ValueError(f"Invalid compression: {compression!r}")
    if compression == "infer":
        return "gzip" if path.endswith(".gz") else "none"
    return compression


@dataclass(frozen=True)
class ArchiveInfo:
    """One archive's header entry (reference: WhisperArchiveMeta,
    whisper_pandas.py:45-85)."""

    index: int
    offset: int
    seconds_per_point: int
    points: int

    @property
    def retention(self) -> int:
        """Covered time span in seconds (spp × points)."""
        return self.seconds_per_point * self.points

    @property
    def size(self) -> int:
        """Data-section size in bytes (12 × points)."""
        return POINT_SIZE * self.points


@dataclass(frozen=True)
class FileInfo:
    """Whole-file header (reference: WhisperFileMeta, whisper_pandas.py:88-168)."""

    path: str
    aggregation_method: str
    max_retention: int
    x_files_factor: float
    archives: tuple[ArchiveInfo, ...] = field(default_factory=tuple)
    compression: str = "none"

    @property
    def archive_count(self) -> int:
        return len(self.archives)

    @property
    def header_size(self) -> int:
        """16 + 12·N bytes (whisper_pandas.py:125-130)."""
        return FILE_HEADER.size + ARCHIVE_HEADER.size * len(self.archives)

    @property
    def file_size(self) -> int:
        """Expected size per header: header + Σ archive data."""
        return self.header_size + sum(a.size for a in self.archives)

    @property
    def file_size_actual(self) -> int:
        """On-disk size (compressed size for .gz, matching the reference's
        ``Path.stat()`` semantics, whisper_pandas.py:138-140)."""
        return os.stat(self.path).st_size

    @property
    def file_size_mismatch(self) -> bool:
        """Truncation / compression indicator — exposed, never enforced
        (whisper_pandas.py:142-145; truncated files still parse)."""
        return self.file_size != self.file_size_actual


def parse_header(buffer: bytes, path: str, compression: str = "none") -> FileInfo:
    """Parse a file + archive header block from raw (decompressed) bytes.

    Unknown ``aggregation_type`` raises ``KeyError`` (same contract as the
    reference's enum lookup, whisper_pandas.py:101).
    """
    agg_type, max_retention, xff, archive_count = FILE_HEADER.unpack_from(buffer, 0)
    archives = []
    for i in range(archive_count):
        off, spp, points = ARCHIVE_HEADER.unpack_from(
            buffer, FILE_HEADER.size + i * ARCHIVE_HEADER.size
        )
        archives.append(
            ArchiveInfo(index=i, offset=off, seconds_per_point=spp, points=points)
        )
    return FileInfo(
        path=path,
        aggregation_method=AGGREGATION_METHODS[agg_type],
        max_retention=max_retention,
        x_files_factor=float(xff),
        archives=tuple(archives),
        compression=compression,
    )


def read_header(path: str, compression: str = "infer") -> FileInfo:
    """Read only the header of a Whisper file (driver-side peek).

    Reads ≤ 16 + 12·N bytes — never the data section — so planning over a
    directory of millions of files stays cheap. Works on truncated files as
    long as the header itself is intact; a header whose archive table runs
    past the end of the file raises ``ValueError``.
    """
    comp = resolve_compression(path, compression)
    opener = gzip.open if comp == "gzip" else open
    with opener(path, "rb") as f:  # type: ignore[operator]
        head = f.read(FILE_HEADER.size)
        if len(head) < FILE_HEADER.size:
            raise ValueError(f"{path}: too short for a Whisper header")
        archive_count = FILE_HEADER.unpack(head)[3]
        want = ARCHIVE_HEADER.size * archive_count
        # The count is untrusted (garbage bytes can claim 2^32 archives):
        # a plain file is checked against its size, and the table is read
        # in bounded pieces, so memory never exceeds what the file holds.
        if comp == "none" and FILE_HEADER.size + want > os.fstat(f.fileno()).st_size:
            raise ValueError(
                f"{path}: header names {archive_count} archives, more than the file holds"
            )
        pieces = [head]
        while want:
            piece = f.read(min(want, ARCHIVE_HEADER.size * 4096))
            if not piece:
                raise ValueError(
                    f"{path}: header names {archive_count} archives but ends early"
                )
            pieces.append(piece)
            want -= len(piece)
    return parse_header(b"".join(pieces), path, comp)


def read_points(
    buffer: bytes, archive: ArchiveInfo, slot_start: int = 0, slot_count: int | None = None
) -> np.ndarray:
    """Zero-copy structured view of an archive slot range within *buffer*.

    The slot range lets one archive split into several scan partitions —
    the scale behavior the reference's whole-file model lacks.
    """
    if slot_count is None:
        slot_count = archive.points - slot_start
    offset = archive.offset + POINT_SIZE * slot_start
    end = offset + POINT_SIZE * slot_count
    if end > len(buffer):
        raise ValueError(
            f"archive {archive.index} slots [{slot_start}, {slot_start + slot_count})"
            f" extend to byte {end} but buffer has {len(buffer)} bytes"
            " (truncated file?)"
        )
    return np.frombuffer(buffer, dtype=POINT_DTYPE, count=slot_count, offset=offset)


def read_file_bytes(path: str, compression: str = "infer") -> bytes:
    """Read (and if needed decompress) a whole Whisper file."""
    comp = resolve_compression(path, compression)
    with open(path, "rb") as f:
        raw = f.read()
    return gzip.decompress(raw) if comp == "gzip" else raw


def list_whisper_files(path: str) -> list[str]:
    """Sorted Whisper files a load path names: every ``.wsp`` and
    ``.wsp.gz`` under a directory (recursively), else the glob matches of
    the path. Empty when nothing matches; callers decide what that means."""
    if os.path.isdir(path):
        return sorted(
            f
            for pat in ("*.wsp", "*.wsp.gz")
            for f in glob.glob(os.path.join(path, "**", pat), recursive=True)
        )
    return sorted(glob.glob(path))
