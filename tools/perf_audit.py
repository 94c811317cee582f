#!/usr/bin/env python
"""Time EVERY registry entry (not just the bench headliners) and write
PERF.md, slowest first — the sweep that catches a pathological plan hiding
in a non-headline entry before the driver or judge does. Usage:

    python tools/perf_audit.py            # sf0.01, best of 2 reps per entry

Settings: ``PERF_SF_DIR`` (data), ``PERF_OUT`` (table path, repo-root
relative or absolute), ``PERF_ONLY`` (comma-separated entry names),
``PERF_REPS`` (reps per entry). Every rep is ``bench.entry_reps``, the
protocol bench.py times its headline with. Exits 1 after writing the table
if any entry raised.

Timings are best-of-few on a shared local JVM, so treat anything under ~2×
of its neighbors as noise; the value of the sweep is the ORDER and the
outliers, not the third decimal.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import entry_reps, warm_up

SF_DIR = os.environ.get("PERF_SF_DIR", "/root/testdata/sf0.01")
# Output file (repo-root relative): lets the 10x-scale sweep live next to
# the default one (PERF.md at sf0.01, PERF_sf0.1.md at sf0.1) so the two
# tables can be diffed for super-linear blowups.
OUT = os.environ.get("PERF_OUT", "PERF.md")


def main() -> None:
    from whisper_pandas_spark.registry import QUERIES
    from whisper_pandas_spark.session import get_spark

    spark = get_spark(app_name="perf_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, SF_DIR)

    reps = int(os.environ.get("PERF_REPS", "2"))
    targets = dict(QUERIES)

    # PERF_ONLY=name1,name2 narrows the sweep (exact names) — used by the
    # sf1 stress run, where sweeping all ~200 entries at 100x the oracle
    # scale would take hours for no added signal over the slow tail.
    only = os.environ.get("PERF_ONLY", "").strip()
    if only:
        want = {n.strip() for n in only.split(",") if n.strip()}
        missing = want - set(targets)
        if missing:
            raise SystemExit(f"PERF_ONLY names not in registry: {sorted(missing)}")
        targets = {n: f for n, f in targets.items() if n in want}

    rows = []
    for name, fn in targets.items():
        try:
            df, walls = entry_reps(spark, fn, SF_DIR, reps)
        except Exception as exc:  # keep sweeping; oracle gate owns correctness
            rows.append((0.0, name, -1, f"{type(exc).__name__}: {exc}"[:120]))
            continue
        # row count reported, never timed
        rows.append((round(min(walls), 3), name, df.count(), ""))

    rows.sort(reverse=True)
    out = [
        "# PERF — per-entry wall time, slowest first",
        "",
        f"Generated by `python tools/perf_audit.py` at sf_dir={SF_DIR},",
        "local[8], best of $PERF_REPS (default 2) reps per entry, each rep",
        "bench.py's `entry_reps` protocol (JVM GC + result-cache reset, then",
        "a FULL noop-sink materialization — count() would let Catalyst prune",
        "joins/windows; round-11 note in BENCH_NOTES.md); ORDER and outliers",
        "matter, not 3rd decimals.",
        "",
        "Entries that TRAIN in-engine (k-means / PQ codebooks / PageRank /",
        "component closures) run eager per-iteration checkpoints, so at",
        "fixture scale their wall time is Spark job-count overhead, not",
        "data volume — the per-iteration cost is what scales, and their",
        "plan shapes are pinned in PLANS.md / tests/test_plans.py.",
        "",
        "| sec | entry | rows |",
        "|---|---|---|",
    ]
    for sec, name, n, err in rows:
        out.append(f"| {sec} | {name} | {err or n} |")
    Path(__file__).resolve().parents[1].joinpath(OUT).write_text(
        "\n".join(out) + "\n"
    )
    print(f"wrote {OUT} ({len(rows)} entries); slowest:")
    for sec, name, n, err in rows[:8]:
        print(f"  {sec:>7.3f}s  {name}  {err or n}")
    spark.stop()
    failed = [name for _, name, _, err in rows if err]
    if failed:
        raise SystemExit(f"{len(failed)} entries raised: {failed}")


if __name__ == "__main__":
    main()
