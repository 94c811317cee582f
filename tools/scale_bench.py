#!/usr/bin/env python
"""Multi-file scale demonstration: scan throughput vs tree size.

Generates N reference-geometry Whisper files (82.8 MB each) under /tmp
(cached across runs), scans 1 / N/3 / N of them through the distributed
DataSource, and prints MB/s. This is the scenario the reference cannot
address at all (one file at a time, whole file in RAM, README.md:64):
the engine's scan should hold its per-file cost roughly constant as the
tree grows — the 100 TB argument in miniature. Usage:

    python tools/scale_bench.py [n_files=12] [--corrupt] [--small]

``--small`` switches to 1/10-size files (~8.3 MB, same 3-archive shape)
in a separate tree — the FILE-COUNT scaling axis (planning, listing,
per-file DataSource overhead, plan-time corrupt-member drop at 1000+
members) decoupled from raw byte throughput, which the full-geometry
tree covers. A 1000-file run needs ~8.3 GB instead of the ~83 GB this
host cannot hold.

``--corrupt`` injects a garbage-header member into the tree and rescans
with on_error=skip: row counts must equal the clean scan exactly (the
bad file is dropped at plan time, costing zero executor work), and the
throughput with the adaptive splitter is reported — the million-file
deployment reality where some member is always mid-write.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

from bench import WHISPER_GEOMETRY, timed

TREE = Path("/tmp/whisper_scale_tree")
TREE_SMALL = Path("/tmp/whisper_scale_tree_small")
# 1/10 of the reference geometry per archive (same 3-archive shape and
# fill ratios): ~8.28 MB, 689 881 point slots per file
GEOMETRY_SMALL = [
    (10, 155_520, 1.0),
    (60, 525_600, 0.44349),
    (3600, 8_761, 0.44353),
]
_SMALL = False  # set by main() before build_tree


def _build_one(args: tuple[str, int, bool]) -> None:
    path, seed, small = args
    from wsp_fixtures import build_wsp

    build_wsp(
        path, archives=GEOMETRY_SMALL if small else WHISPER_GEOMETRY, seed=seed
    )


def build_tree(n: int) -> list[Path]:
    """Ensure n reference-geometry files exist (cached across runs);
    missing ones build in parallel (~1.8 s each single-threaded)."""
    from concurrent.futures import ProcessPoolExecutor

    tree = TREE_SMALL if _SMALL else TREE
    tree.mkdir(parents=True, exist_ok=True)
    files, missing = [], []
    for i in range(n):
        p = tree / f"srv{i // 4}" / f"metric{i}.wsp"
        if not p.exists():
            p.parent.mkdir(parents=True, exist_ok=True)
            missing.append((str(p), 100 + i, _SMALL))
        files.append(p)
    if missing:
        with ProcessPoolExecutor(max_workers=16) as pool:
            list(pool.map(_build_one, missing))
    return files


def corrupt_scan(spark, files: list[Path]) -> None:
    """Clean scan vs same tree + an injected garbage-header member under
    on_error=skip: counts must match exactly, and throughput is reported
    with the adaptive splitter active (no chunk_points option).

    Cache note: the first clean scan warms the OS page cache, so BOTH
    timed scans below run warm — the clean-vs-mixed comparison is
    apples-to-apples, but neither number is comparable to the COLD
    multi-file rows in BASELINE.md."""
    mb = sum(p.stat().st_size for p in files) / 1e6
    paths = [str(p) for p in files]

    clean = (
        spark.read.format("whisper")
        .load(paths)
        .groupBy("archive")
        .count()
        .collect()
    )
    clean_total = sum(r["count"] for r in clean)
    # timed WARM clean scan — the baseline the mixed scan is compared to
    _, clean_dt = timed(
        lambda: spark.read.format("whisper")
        .load(paths)
        .groupBy("archive")
        .count()
        .collect()
    )
    print(
        f"clean scan (warm):   {len(files)} files           "
        f"{mb:8.1f} MB  {clean_total:>10} points  "
        f"{clean_dt:6.2f} s  {mb / clean_dt:6.0f} MB/s"
    )

    bad = files[0].parent / "corrupt_member.wsp"
    bad.write_bytes(b"\x00\x02not-a-whisper-header" * 64)
    try:
        mixed, dt = timed(
            lambda: spark.read.format("whisper")
            .option("on_error", "skip")
            .load(paths + [str(bad)])
            .groupBy("archive")
            .count()
            .collect()
        )
        mixed_total = sum(r["count"] for r in mixed)
        assert mixed_total == clean_total, (mixed_total, clean_total)
        print(
            f"corrupt-member scan: {len(files)} good + 1 garbage file  "
            f"{mb:8.1f} MB  {mixed_total:>10} points  "
            f"{dt:6.2f} s  {mb / dt:8.0f} MB/s  (counts == clean scan)"
        )
    finally:
        bad.unlink(missing_ok=True)


def main() -> None:
    global _SMALL
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = int(args[0]) if args else 12
    corrupt = "--corrupt" in sys.argv[1:]
    _SMALL = "--small" in sys.argv[1:]
    files = build_tree(n)
    size_mb = sum(f.stat().st_size for f in files) / 1e6
    if "--build-only" in sys.argv[1:]:
        # separate build step so a true-cold run can drop_caches AFTER
        # building (the build itself page-cache-warms new files)
        print(f"tree ready: {size_mb:.1f} MB in {len(files)} files")
        return

    from whisper_pandas_spark.session import get_spark
    from whisper_pandas_spark.sources.whisper import register_whisper

    spark = get_spark(app_name="whisper_scale_bench")
    register_whisper(spark)
    # warm the DataSource machinery on one small read
    spark.read.format("whisper").load(str(files[0])).limit(1).count()

    if corrupt:
        corrupt_scan(spark, files)
        spark.stop()
        return

    for label, paths in [
        ("1 file", [files[0]]),
        (f"{max(n // 3, 2)} files", files[: max(n // 3, 2)]),
        (f"{n} files", files),
    ]:
        mb = sum(p.stat().st_size for p in paths) / 1e6
        rows, dt = timed(
            lambda: spark.read.format("whisper")
            .load([str(p) for p in paths])
            .groupBy("archive")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in rows)
        print(
            f"{label:>10}: {mb:8.1f} MB  {total:>10} points  "
            f"{dt:6.2f} s  {mb / dt:8.0f} MB/s"
        )
    print(f"tree total: {size_mb:.1f} MB in {len(files)} files")
    spark.stop()


if __name__ == "__main__":
    main()
