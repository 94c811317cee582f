#!/usr/bin/env python
"""Benchmark runner: times the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON lines: the per-rep
detail ``{"bench_detail": {...}}``, then the compact headline

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall seconds over the headline set (lower is better).

This module also owns the one timing path every tool uses: ``timed`` (the
clock pair), ``best_of`` (N timed calls), ``entry_reps`` (the registry-entry
protocol) and ``warm_up`` (the session warm-up).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from whisper_pandas_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Host gates (see main): thresholds, wait budgets and the wait cadence.
QUIET_LOAD, QUIET_WAITS, QUIET_SLEEP = 0.5, 4, 60  # 1-min loadavg; s per wait
# The spin wait also ends once two consecutive probes agree within
# SPIN_STEADY s: a host that reads steadily over QUIET_SPIN is slow, not
# contended, and waiting does not make it faster.
QUIET_SPIN, SPIN_WAITS, SPIN_STEADY = 0.80, 4, 0.10  # _spin_probe seconds
QUIET_STEAL, STEAL_WAITS = 5.0, 4  # all-core steal, percent
# Reps per entry: quiet captures keep the best of REPS, throttled or
# degraded ones the best of FULL_REPS.
REPS, FULL_REPS = 3, 5

# Headline queries: a representative slice of the registry (scan-heavy agg,
# join, window, dedup, similarity). Kept explicit so bench time stays
# stable as the registry grows.
HEADLINE = [
    # scan → filter → agg → sort (the reference's pipeline shape, TPC-H Q1)
    "q1_pricing_summary",
    # Whisper rollup family representative (tumbling-window agg + xff gate)
    "rollup_average_xff",
    # multi-way star join (broadcast dims + AQE)
    "join_star_q3ish",
    # time-series as-of join (union + last-observation window)
    "join_asof",
    # window functions over a big partition-ordered scan
    "window_moving_avg_time",
    # near-dup dedup: MinHash → LSH → verify (the 100 TB pipeline op)
    "dedup_minhash_lsh",
    # SimHash banded hamming pairs (Arrow fingerprints + pigeonhole join)
    "dedup_simhash_pairs",
    # exact n-gram Jaccard via inverted-index join
    "dedup_ngram_jaccard",
    # similarity search: broadcast brute-force cosine top-k
    "sim_topk_bruteforce",
    # text quality scoring (pure codegen scan)
    "text_quality",
    # session windows (gaps-and-islands semantics, one shuffle)
    "window_session_agg",
    # the Whisper archive cascade (two chained rollups)
    "rollup_cascade",
    # multimodal Arrow feature extraction + explode
    "mm_features",
    # the INTEGRATED corpus pipeline: gate -> dedup -> split -> decontam
    # -> pack in one plan (the 100 TB end-to-end shape)
    "pipeline_corpus_end_to_end",
]

# Second stanza (round 9): representative HEAVY entries from the round-2..8
# families the original 15 never covered (graph, sketches, lakehouse MERGE,
# PassJoin dedup, seasonal forecast). Kept SEPARATE from HEADLINE so the
# historical 15-query total (``value``) stays comparable across rounds;
# these report under ``queries2`` / ``value_extended``.
HEADLINE2 = [
    # iterative graph algorithm: deterministic min-label propagation
    "graph_label_propagation",
    # mergeable KLL quantile sketch build + rollup + read-off
    "sketch_kll_rollup",
    # lakehouse MERGE into a partitioned manifest table (touched-partition
    # rewrite path)
    "merge_partitioned_manifest",
    # PassJoin pigeonhole edit-distance dedup (the fuzzy-dedup scale path)
    "dedup_fuzzy_passjoin",
    # Holt-Winters/Brutlag forecast: per-series 50-double expression fold
    "ts_holtwinters_forecast",
]

# Third stanza (round 11): representative HEAVY entries from the
# round-9..11 families (iterative graph frontier, in-engine trained
# lang-ID, byte-level BPE training+encode, the fused repetition pack).
# SEPARATE so both historical totals (``value``: 15 queries since r1;
# ``value_extended``: +5 since r9) stay comparable; these report under
# ``queries3`` / ``value_r9plus`` (= value_extended + stanza 3).
HEADLINE3 = [
    "graph_bfs_distances",
    "text_lang_id_trained",
    "text_bpe_bytes",
    "text_repetition_profile",
    # round 12 additions (heavy new families; stanza-3 totals before/after
    # r12 compare via per-query bests — BENCH_NOTES — not the raw sum)
    "mm_phash_neardup",
    "dedup_paragraph_exact",
    # round 12b additions: trained-tokenizer encode (driver-local scored
    # training + Arrow greedy encode) and the window-pass fingerprinter
    "text_wordpiece_ids",
    "text_winnow_fingerprints",
    # the integrated web-crawl chain (strip -> C4 -> dedup -> quota)
    "pipeline_web_end_to_end",
    # round 13b additions: exact-integer SemDeDup (Arrow Gram cells),
    # the single-pass DSIR scorer, and the four-stage curation funnel
    "dedup_semdedup",
    "text_dsir_weights",
    "pipeline_curation_end_to_end",
    # round 14 additions: the CommonCrawl index build (WARC write +
    # byte-scan + codegen index), the DoReMi weight recursion (classifier
    # training passes dominate), and the mojibake repair (pure codegen
    # scan — the scan-cost floor for a cleaning stage)
    "ingest_cdx_index",
    "sample_doremi_weights",
    "text_encoding_fix",
    # round 14c additions: the record-linkage family representative
    # (blocked equi-joins + codegen FS scoring) and the CCNet bucketing
    # stage riding the KN-LM plan (stanza-3 totals before/after compare
    # via per-query bests — BENCH_NOTES)
    "er_record_linkage",
    "text_ccnet_buckets",
]

# The Whisper decode entry, timed in the headline stanza next to the
# registry entries.
WHISPER_SCAN = "whisper_scan_83mb"
# Entry name -> the final-line stanza that reports its best, in run order.
STANZA = {
    WHISPER_SCAN: "queries",
    **dict.fromkeys(HEADLINE, "queries"),
    **dict.fromkeys(HEADLINE2, "queries2"),
    **dict.fromkeys(HEADLINE3, "queries3"),
}


# Reference golden-fixture geometry (BASELINE.md: 82.8 MB, 6 898 801 point
# slots, 3 archives at 10 s/60 s/3600 s with the measured fill ratios) —
# the one workload the reference itself is built around. The bench decodes
# it through the distributed Whisper DataSource; the reference decodes the
# same geometry single-threaded into pandas.
WHISPER_GEOMETRY = [
    (10, 1_555_200, 1.0),
    (60, 5_256_000, 0.44349),
    (3600, 87_601, 0.44353),
]
WHISPER_BENCH_DIR = "/tmp/whisper_bench_fixture"


def _whisper_fixture(
    name: str = "example.wsp", archives: list[tuple] = WHISPER_GEOMETRY
) -> str:
    """Path of the fixture ``name`` under WHISPER_BENCH_DIR, built on first
    use with ``tests/wsp_fixtures.build_wsp``."""
    path = Path(WHISPER_BENCH_DIR) / name
    if not path.exists():
        sys.path.insert(0, str(Path(__file__).resolve().parent / "tests"))
        from wsp_fixtures import build_wsp

        path.parent.mkdir(parents=True, exist_ok=True)
        build_wsp(str(path), archives=archives)
    return str(path)


def _whisper_scan(spark):
    """The ``whisper_scan_83mb`` entry: full decode of the reference-geometry
    file + a per-archive aggregate (forces both timestamp and value columns
    through Arrow), as a registry-style ``fn(spark, sf_dir)``."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    path = _whisper_fixture()
    # Warm the Python DataSource machinery (driver-side plan worker +
    # executor source workers) with a minimal file: that one-time
    # per-application cost (~3-4 s) is amortized over every read in a real
    # deployment and is not the engine's scan cost.
    tiny = _whisper_fixture("tiny.wsp", [(10, 16, 1.0)])
    spark.read.format("whisper").load(tiny).count()
    return lambda spark, _sf_dir: (
        spark.read.format("whisper").load(path).groupBy("archive").count()
    )


# -- the timing path: every timing in bench.py and tools/ goes through here --


def timed(fn, *args):
    """Call ``fn(*args)``; return (its result, its wall seconds)."""
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def best_of(n: int, fn, before=None):
    """``n`` timed calls of ``fn()``, each after an untimed ``before()``;
    return (the last call's result, the ``n`` walls)."""
    out, walls = None, []
    for _ in range(n):
        if before is not None:
            before()
        out, wall = timed(fn)
        walls.append(wall)
    return out, walls


def entry_reps(spark, fn, sf_dir: str, n: int):
    """Time a registry entry ``fn(spark, sf_dir)`` ``n`` times; return (its
    last DataFrame, the ``n`` walls). Each rep asks the JVM to collect first
    (one entry's garbage must not bill the next entry's run: cross-entry GC
    debt on the one shared heap was the dominant run-to-run noise source)
    and drops the shared result caches (so every rep pays the FULL
    pipeline), both untimed. The timed call then writes every output
    column to the noop sink: count() would let Catalyst prune unreferenced
    projections, whole Window operators and left joins whose build side
    has unique keys, timing a fraction of the plan."""
    from whisper_pandas_spark import registry

    def before() -> None:
        spark._jvm.System.gc()
        registry.reset_result_caches()

    def rep():
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    return best_of(n, rep, before=before)


def warm_up(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs before the first timed rep: JVM +
    parquet footer caches, the Python worker pool (one ``mapInPandas`` task
    per core) and the noop-sink write path (its first use JIT-compiles the
    whole WriteFiles stack, ~2.5 s)."""
    cores = spark.sparkContext.defaultParallelism
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    region.count()
    spark.range(cores).repartition(cores).mapInPandas(
        lambda it: it, "id long"
    ).count()
    region.write.format("noop").mode("overwrite").save()


def _spin_probe(iters: int = 20_000_000) -> float:
    """Single-thread CPU-speed probe: a fixed pure-Python integer loop.

    Cross-round artifact totals are host-confounded (hypervisor steal
    windows measured at 322 s over 2 h in round 11, VERDICT r11
    Performance): the same code measures 1.3-1.6x slower in a steal
    window with no code change. Emitting the probe in the artifact
    makes normalization mechanical — divide totals by (spin_s /
    reference_spin_s) instead of reconstructing host state from prose.
    ~0.67-0.80 s on this host quiet, >1.0 s under co-tenant load."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iters):
        x += i
    assert x >= 0
    return round(time.perf_counter() - t0, 3)


def _rep_spin() -> float:
    """Quarter-length spin probe (5M iters, ~0.17 s quiet) used as the
    per-rep host-speed stamp in throttled-capture mode — cheap enough to
    bracket every rep of every query without distorting the session.
    Compare against QUIET_SPIN/4."""
    return _spin_probe(5_000_000)


def _burn(seconds: float) -> None:
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        x += 1
    assert x >= 0


def _stat_fields() -> list[int] | None:
    """Cumulative jiffies from the aggregate /proc/stat cpu line:
    user nice system idle iowait irq softirq steal."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return [int(x) for x in parts[1:9]]
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Fraction of WANTED cpu time stolen by the hypervisor between two
    /proc/stat samples: steal / (user+nice+system+steal). Idle time is
    excluded from the denominator so the number reads 'of the compute
    this host tried to do, how much did it not get' — the quantity that
    inflates a timed Spark stage."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    user, nice, system, _idle, _iow, _irq, _sirq, steal = d
    busy = user + nice + system + steal
    if busy <= 0:
        return None
    return round(100.0 * steal / busy, 1)


def _steal_probe(seconds: float = 1.5) -> float | None:
    """Parallel-load steal probe (round 14, second continuation): the
    single-thread spin probe CANNOT see hypervisor steal that only
    manifests when every core is busy — measured 16.5% steal at
    loadavg 0.28 / spin 0.73 (both 'quiet'), uniformly inflating a
    whole 'quiet'-stamped capture by 20-40%. Spin all cores for
    ``seconds`` and read the steal fraction off /proc/stat; on a truly
    quiet host this reads 0-2%. Returns None where /proc/stat is not
    available (the artifact then simply carries no steal evidence)."""
    import multiprocessing as mp

    a = _stat_fields()
    if a is None:
        return None
    try:
        procs = [
            mp.Process(target=_burn, args=(seconds,))
            for _ in range(os.cpu_count() or 1)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join()
    except OSError:
        return None
    return _steal_pct(a, _stat_fields())


def _wait_until_quiet(probe, threshold: float, waits: int, steady=None):
    """Read ``probe()`` until it is at most ``threshold`` (None, no evidence,
    counts as quiet), sleeping QUIET_SLEEP s between reads, at most
    ``waits`` times; return (the last reading, the waits spent). A
    contended host usually quiets within a few minutes, so a bounded wait
    captures a quiet window when one exists; if none comes, the bench runs
    anyway and its record says so. With ``steady``, two consecutive
    readings within ``steady`` of each other also end the wait."""
    value, waited = probe(), 0
    while value is not None and value > threshold and waited < waits:
        time.sleep(QUIET_SLEEP)
        last, value, waited = value, probe(), waited + 1
        if steady is not None and abs(value - last) <= steady:
            break
    return value, waited


# Host-gate readings main() records, in final-line order.
GATES = (
    "load_at_start", "load_initial", "quiet_waits", "spin_waits", "spin_s",
    "spin_s_end", "steal_pct_start", "steal_waits", "steal_pct_session",
)


def final_line(
    bests: dict[str, float], reps: int, quiet: bool, gates: dict, master: str
) -> dict[str, object]:
    """The compact headline record (the LAST stdout line): per-entry bests
    split into the three stanzas, their running totals, the rep count, the
    capture state with the GATES readings, and the data scale, CPUs and
    master. Readers of a run parse this line from a ~2000-char tail of the
    output, so nothing bulky belongs here; per-rep detail goes on the line
    before."""
    stanzas: dict[str, dict[str, float]] = {
        "queries": {}, "queries2": {}, "queries3": {}
    }
    for name, best in bests.items():
        stanzas[STANZA[name]][name] = round(best, 4)
    total = round(sum(stanzas["queries"].values()), 4)
    total_ext = round(total + sum(stanzas["queries2"].values()), 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": stanzas["queries"],
        "queries2": stanzas["queries2"],
        "value_extended": total_ext,
        "queries3": stanzas["queries3"],
        "value_r9plus": round(total_ext + sum(stanzas["queries3"].values()), 4),
        "reps": reps,
        # "quiet": every gate passed at the start and the end, the values
        # are trustworthy as-is; "best_of_5": the host never quieted or
        # degraded mid-run, values are best-of-5 with per-rep spin stamps
        # in bench_detail.query_stats
        "capture": "quiet" if quiet else "best_of_5",
        **{name: gates[name] for name in GATES},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # host CPUs this process may run on, and the master the session
        # resolved (local[$SPARK_GRAFT_CPUS] by default)
        "cpus": len(os.sched_getaffinity(0)),
        "master": master,
    }


def main() -> None:
    from whisper_pandas_spark.registry import QUERIES

    # Host gates, all before any Spark work is spent (each retries on the
    # QUIET_SLEEP cadence up to its wait budget):
    # - load: a 1-minute loadavg above QUIET_LOAD means a co-tenant; the
    #   bench itself drives load up once running, so this is stamped first;
    # - spin: the single-thread probe above QUIET_SPIN means a slow host;
    #   the wait ends early once two probes agree within SPIN_STEADY;
    # - steal: loadavg and the spin probe both read quiet while the
    #   hypervisor steals 16%+ under parallel load (steal only shows when
    #   every core is busy, which is when the bench runs), so an all-core
    #   burn reads it; steal is also measured ACROSS the timed session.
    # A capture is "quiet" iff all three pass at the start AND the spin and
    # session steal still pass at the end; otherwise every entry runs (or
    # is topped up) to FULL_REPS with a spin stamp after every rep.
    gates: dict[str, object] = {"load_initial": round(os.getloadavg()[0], 2)}
    load, gates["quiet_waits"] = _wait_until_quiet(
        lambda: os.getloadavg()[0], QUIET_LOAD, QUIET_WAITS
    )
    gates["load_at_start"] = round(load, 2)
    gates["spin_s"], gates["spin_waits"] = _wait_until_quiet(
        _spin_probe, QUIET_SPIN, SPIN_WAITS, SPIN_STEADY
    )
    gates["steal_pct_start"], gates["steal_waits"] = _wait_until_quiet(
        _steal_probe, QUIET_STEAL, STEAL_WAITS
    )
    steal = gates["steal_pct_start"]
    start_quiet = (
        gates["load_at_start"] <= QUIET_LOAD
        and gates["spin_s"] <= QUIET_SPIN
        and (steal is None or steal <= QUIET_STEAL)
    )

    spark = get_spark(app_name="whisper_pandas_spark_bench")
    warm_up(spark, SF_DIR)
    entries = {
        name: _whisper_scan(spark) if name == WHISPER_SCAN else QUERIES[name]
        for name in STANZA
        if name == WHISPER_SCAN or name in QUERIES
    }
    # Per-rep walls (and, in throttled mode, per-rep quarter-spin stamps:
    # quiet ~0.17 s, compare vs QUIET_SPIN/4) ride along in the detail
    # line, so a noisy run is self-diagnosing: an entry whose max is 2-3x
    # its best was hit by co-tenant load mid-rep, not regressed.
    walls: dict[str, list[float]] = {name: [] for name in entries}
    spins: dict[str, list[float]] = {}

    def timed_pass(rep_count: int, interleave: bool) -> None:
        # Two rep orders, same per-entry best-of-N semantics:
        # - clustered (quiet captures, the historical protocol): all N reps
        #   of an entry back-to-back, the warm steady-state a capacity plan
        #   would use, comparable with every prior quiet artifact;
        # - interleaved (throttled; each rep spin-stamped): rep 1 of every
        #   entry, then rep 2, ... Host steal arrives in minute-scale
        #   waves, and interleaved reps land minutes apart so best-of-N
        #   samples independent host states. On a steal-free host
        #   interleaved bests run 10-50% over clustered (cold data caches
        #   between an entry's reps), so it is ONLY used under contention.
        def rep(name: str, n: int) -> None:
            walls[name] += entry_reps(spark, entries[name], SF_DIR, n)[1]

        if interleave:
            for _ in range(rep_count):
                for name in entries:
                    rep(name, 1)
                    spins.setdefault(name, []).append(_rep_spin())
        else:
            for name in entries:
                rep(name, rep_count)

    def probe_end() -> bool:
        """Stamp the end probes; True iff the session stayed quiet."""
        gates["spin_s_end"] = _spin_probe()
        gates["steal_pct_session"] = steal = _steal_pct(stat_t0, _stat_fields())
        return gates["spin_s_end"] <= QUIET_SPIN and (
            steal is None or steal <= QUIET_STEAL
        )

    stat_t0 = _stat_fields()
    timed_pass(REPS if start_quiet else FULL_REPS, interleave=not start_quiet)
    quiet = probe_end() and start_quiet
    # Host degraded mid-session after a quiet start: top up every entry to
    # best-of-FULL_REPS with per-rep spin stamps, then re-probe; the best
    # across the degraded-window and top-up reps is the primary value.
    if start_quiet and not quiet:
        timed_pass(FULL_REPS - REPS, interleave=True)
        quiet = probe_end()

    stats: dict[str, dict[str, object]] = {}
    for name, ts in walls.items():
        ts = sorted(ts)
        stats[name] = {
            "best": round(ts[0], 4),
            # true median: average the two middle elements for even N
            "median": round((ts[(len(ts) - 1) // 2] + ts[len(ts) // 2]) / 2, 4),
            "max": round(ts[-1], 4),
        }
        if name in spins:
            stats[name]["spin"] = [round(s, 3) for s in spins[name]]
    bests = {name: min(ts) for name, ts in walls.items()}
    reps = max(map(len, walls.values()))
    print(json.dumps({"bench_detail": {"query_stats": stats}}))
    print(
        json.dumps(
            final_line(bests, reps, quiet, gates, spark.sparkContext.master)
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
