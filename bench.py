#!/usr/bin/env python
"""Benchmark runner: times the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall seconds over the headline set (lower is better).
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


def _whisper_fixture() -> str:
    import sys as _sys

    _sys.path.insert(0, str(Path(__file__).resolve().parent / "tests"))
    from wsp_fixtures import build_wsp

    path = Path(WHISPER_BENCH_DIR) / "example.wsp"
    if not path.exists():
        path.parent.mkdir(parents=True, exist_ok=True)
        build_wsp(str(path), archives=WHISPER_GEOMETRY)
    return str(path)


def _bench_whisper_scan(spark, reps: int, spin: list[float] | None) -> list[float]:
    """Full decode of the reference-geometry file + a per-archive aggregate
    (forces both timestamp and value columns through Arrow)."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    path = _whisper_fixture()
    # Warm the Python DataSource machinery (driver-side plan worker +
    # executor source workers) with a minimal file: that one-time
    # per-application cost (~3-4 s) is amortized over every read in a real
    # deployment and would otherwise dominate this single-read timing.
    tiny = Path(WHISPER_BENCH_DIR) / "tiny.wsp"
    if not tiny.exists():
        import sys as _sys

        _sys.path.insert(0, str(Path(__file__).resolve().parent / "tests"))
        from wsp_fixtures import build_wsp

        build_wsp(str(tiny), archives=[(10, 16, 1.0)])
    spark.read.format("whisper").load(str(tiny)).count()
    # N timed reps (the caller records best + spread) — the same
    # steady-state protocol every other headline query uses (a capacity
    # plan sizes on the repeated-read rate; the one-time Python
    # DataSource spin-up is not the engine's scan cost)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = spark.read.format("whisper").load(path)
        df.groupBy("archive").count().collect()
        times.append(time.perf_counter() - t0)
        if spin is not None:
            spin.append(_rep_spin())
    return times


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


def main() -> None:
    from whisper_pandas_spark.registry import QUERIES, reset_result_caches

    # Stamp host load BEFORE the session starts (the bench itself drives
    # load to ~32 while running): a 1-minute loadavg well above ~1-2 at
    # entry means co-tenant contention and the totals are inflated —
    # machine-detectable from the artifact alone (VERDICT r6 Perf note),
    # no BENCH_NOTES prose required.
    #
    # Round 8: don't just STAMP contention — wait it out (bounded). The
    # 1-minute loadavg decays with ~60 s half-life once a co-tenant
    # finishes, so a few 60 s waits capture a quiet window when one
    # exists; if the host never quiets, run anyway and let the stamp say
    # so. Knobs: SPARK_GRAFT_BENCH_QUIET_LOAD (threshold, default 0.5),
    # SPARK_GRAFT_BENCH_QUIET_WAITS (max waits, default 4, 0 disables),
    # SPARK_GRAFT_BENCH_QUIET_SLEEP (seconds per wait, default 60).
    quiet_load = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_LOAD", "0.5"))
    max_waits = int(os.environ.get("SPARK_GRAFT_BENCH_QUIET_WAITS", "4"))
    sleep_s = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_SLEEP", "60"))
    load_initial = round(os.getloadavg()[0], 2)
    waited = 0
    while os.getloadavg()[0] > quiet_load and waited < max_waits:
        time.sleep(sleep_s)
        waited += 1
    load_at_start = round(os.getloadavg()[0], 2)
    # Host-speed calibration (see _spin_probe): once before the session
    # starts (the quiet-window number) and once after the last timed
    # query (did the host stay quiet THROUGH the run?).
    #
    # Round 14 (VERDICT r13 #1): the artifact must be SELF-DEFENDING —
    # two rounds running the committed BENCH was captured in a host-steal
    # window while the true numbers lived only in BENCH_NOTES prose. The
    # gate is mechanical: a capture is "quiet" iff the load at session
    # start is <= quiet_load AND the spin probe is <= QUIET_SPIN at BOTH
    # start and end of the timed session. The start-side spin gate
    # loop-retries (bounded, same 60 s cadence as the load gate) before
    # any Spark work is spent; if the start never quiets, or the host
    # degrades mid-session, the artifact switches to best-of-5 PRIMARY
    # values with a quarter-length spin probe stamped after every rep —
    # so a mechanical reader sees either `capture: "quiet"` or per-rep
    # evidence of which reps were throttled.
    quiet_spin = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_SPIN", "0.80"))
    spin_waits = int(os.environ.get("SPARK_GRAFT_BENCH_SPIN_WAITS", "4"))
    spin_s = _spin_probe()
    spin_waited = 0
    while spin_s > quiet_spin and spin_waited < spin_waits:
        time.sleep(sleep_s)
        spin_s = _spin_probe()
        spin_waited += 1
    # Multi-core steal gate (round 14, second continuation): loadavg and
    # the single-thread spin probe both read quiet while the hypervisor
    # steals 16%+ of CPU under parallel load (steal only manifests when
    # cores are busy — which is exactly when the bench runs). Probe with
    # an all-core burn, wait it out on the same bounded cadence, and
    # measure steal ACROSS the whole timed session from /proc/stat so the
    # artifact records the contention that actually overlapped the
    # timings, not just the edges.
    quiet_steal = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_STEAL", "5.0"))
    steal_waits = int(os.environ.get("SPARK_GRAFT_BENCH_STEAL_WAITS", "4"))
    steal_pct = _steal_probe()
    steal_waited = 0
    while (
        steal_pct is not None
        and steal_pct > quiet_steal
        and steal_waited < steal_waits
    ):
        time.sleep(sleep_s)
        steal_pct = _steal_probe()
        steal_waited += 1
    start_quiet = (
        load_at_start <= quiet_load
        and spin_s <= quiet_spin
        and (steal_pct is None or steal_pct <= quiet_steal)
    )

    spark = get_spark(app_name="whisper_pandas_spark_bench")

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    names = [n for n in HEADLINE if n in QUERIES]

    # Warm the JVM + parquet footer caches AND the Python worker pool with
    # cheap actions so the first timed query doesn't pay session start-up
    # (the worker pool alone is ~3 s on local[32]).
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    # ... and the noop-sink write path (its first use JIT-compiles the
    # whole WriteFiles stack — measured ~2.5 s of one-time cost that would
    # otherwise land on the first timed query).
    spark.read.parquet(f"{SF_DIR}/region.parquet").write.format("noop").mode(
        "overwrite"
    ).save()

    base_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    full_reps = int(os.environ.get("SPARK_GRAFT_BENCH_FULL_REPS", "5"))
    # Throttled start → go straight to the best-of-5 protocol with
    # per-rep spin stamps; quiet start → the cheap 3-rep protocol
    # (topped up to 5 afterwards ONLY if the end probe shows the host
    # degraded mid-session).
    reps = base_reps if start_quiet else max(base_reps, full_reps)
    with_spin = not start_quiet
    timings: dict[str, float] = {}
    # Per-query rep statistics ride along in the artifact so a noisy run
    # is SELF-diagnosing: a query whose max is 2-3x its best was hit by
    # co-tenant load mid-rep (the documented failure mode in
    # BENCH_NOTES.md), not regressed — the spread says so without a
    # manual re-run. In throttled-capture mode each query also carries
    # its per-rep quarter-spin series (quiet ~0.17 s; compare vs
    # quiet_spin/4) so a reader can see WHICH reps were stolen.
    stats: dict[str, dict[str, object]] = {}
    all_times: dict[str, list[float]] = {}
    spin_series: dict[str, list[float]] = {}

    names2 = [n for n in HEADLINE2 if n in QUERIES]
    names3 = [n for n in HEADLINE3 if n in QUERIES]
    timings2: dict[str, float] = {}
    timings3: dict[str, float] = {}
    all_names = names + names2 + names3

    def timed_pass(
        rep_count: int, record_spin: bool, interleave: bool = False
    ) -> None:
        # Two rep orders, same per-query best-of-N semantics:
        # - clustered (quiet captures, the historical protocol): all N
        #   reps of a query back-to-back — measures warm steady-state
        #   (page cache, JVM heap state), the number a capacity plan
        #   would use, and stays like-for-like comparable with every
        #   prior round's quiet artifact. Safe because the steal gate
        #   now proves the whole session ran unthrottled.
        # - interleaved (throttled fallback): rep 1 of every query,
        #   then rep 2, ... — host steal arrives in waves at the minute
        #   scale (BENCH_NOTES, second continuation), and back-to-back
        #   reps let one wave poison every rep of one query; interleaved
        #   reps land minutes apart so best-of-N samples independent
        #   host states. Measured on a steal-free host: interleaved
        #   bests run 10-50% over clustered (cold data caches between a
        #   query's reps), so it is ONLY used when contention is the
        #   bigger error term.
        def one_rep(name: str) -> None:
            fn = QUERIES[name]
            # Ask the JVM to collect BEFORE the timed rep so one
            # query's garbage doesn't bill the next query's run (single
            # shared heap on local[32]; cross-query GC debt was the
            # dominant run-to-run noise source, not CPU).
            spark._jvm.System.gc()
            times = all_times.setdefault(name, [])
            # drop shared result materializations (e.g. the MinHash
            # pair checkpoint) so every timed run pays the FULL pipeline
            reset_result_caches()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            # Force FULL materialization of every output column:
            # count() would let Catalyst prune unreferenced projections
            # (and whole Window operators) before the count aggregate,
            # timing little more than a scan for projection-only
            # queries. The noop sink evaluates the complete plan with no
            # driver transfer.
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            if record_spin:
                spin_series.setdefault(name, []).append(_rep_spin())

        def whisper_reps(n: int) -> None:
            ws = all_times.setdefault("whisper_scan_83mb", [])
            sp = spin_series.setdefault("whisper_scan_83mb", [])
            ws.extend(
                _bench_whisper_scan(spark, n, sp if record_spin else None)
            )

        if interleave:
            for _ in range(rep_count):
                whisper_reps(1)
                for name in all_names:
                    one_rep(name)
        else:
            whisper_reps(rep_count)
            for name in all_names:
                for _ in range(rep_count):
                    one_rep(name)

    stat_t0 = _stat_fields()
    timed_pass(reps, with_spin, interleave=not start_quiet)
    spin_s_end = _spin_probe()
    steal_session = _steal_pct(stat_t0, _stat_fields())

    # Host degraded mid-session after a quiet start: top up every query
    # to best-of-5 with per-rep spin stamps, then re-probe. The artifact
    # then carries BOTH the degraded-window reps and the top-up reps —
    # best-of-5 across all of them is the primary value. Session-wide
    # steal above the quiet threshold counts as degradation: the timed
    # window was contended even if the edge probes were not.
    degraded = spin_s_end > quiet_spin or (
        steal_session is not None and steal_session > quiet_steal
    )
    if start_quiet and degraded and full_reps > reps:
        with_spin = True
        timed_pass(full_reps - reps, True, interleave=True)
        spin_s_end = _spin_probe()
        steal_session = _steal_pct(stat_t0, _stat_fields())

    capture_quiet = (
        start_quiet
        and spin_s_end <= quiet_spin
        and (steal_session is None or steal_session <= quiet_steal)
    )

    def record(name: str, target: dict[str, float]) -> None:
        ts = sorted(all_times[name])
        target[name] = round(ts[0], 4)
        st: dict[str, object] = {
            "best": round(ts[0], 4),
            # true median: average the two middle elements for even N
            "median": round(
                (ts[(len(ts) - 1) // 2] + ts[len(ts) // 2]) / 2, 4
            ),
            "max": round(ts[-1], 4),
        }
        if spin_series.get(name):
            st["spin"] = [round(s, 3) for s in spin_series[name]]
        stats[name] = st

    record("whisper_scan_83mb", timings)
    for name in all_names:
        record(
            name,
            timings2
            if name in names2
            else (timings3 if name in names3 else timings),
        )
    reps = max(len(v) for v in all_times.values())
    total = round(sum(timings.values()), 4)
    total_ext = round(total + sum(timings2.values()), 4)
    total_r9p = round(total_ext + sum(timings3.values()), 4)
    # The driver parses the LAST stdout line and keeps only a ~2000-char
    # tail of output; round 10's artifact came back ``parsed: null``
    # because ``query_stats`` grew the single line past that window
    # (VERDICT r10 What's-wrong #1). Bulky per-rep detail therefore goes
    # on its OWN earlier line, and the final line stays a compact JSON
    # (~1 kB) carrying the headline metric plus per-query bests.
    print(json.dumps({"bench_detail": {"query_stats": stats}}))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries2": timings2,
                "value_extended": total_ext,
                "queries3": timings3,
                "value_r9plus": total_r9p,
                "reps": reps,
                # "quiet": load <= quiet_load at session start AND spin
                # probe <= quiet_spin at BOTH start and end — the values
                # are trustworthy as-is. "best_of_5": the host never
                # quieted (or degraded mid-run); values are best-of-5
                # with per-rep spin stamps in bench_detail.query_stats.
                "capture": "quiet" if capture_quiet else "best_of_5",
                "load_at_start": load_at_start,
                "load_initial": load_initial,
                "quiet_waits": waited,
                "spin_waits": spin_waited,
                "spin_s": spin_s,
                "spin_s_end": spin_s_end,
                # all-core steal probe at the start gate and the
                # /proc/stat steal fraction across the timed session —
                # quiet means <= quiet_steal (default 5%) at both
                "steal_pct_start": steal_pct,
                "steal_waits": steal_waited,
                "steal_pct_session": steal_session,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # host CPUs this process may run on, and the master the
                # session resolved (local[$SPARK_GRAFT_CPUS] by default)
                "cpus": len(os.sched_getaffinity(0)),
                "master": spark.sparkContext.master,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
