"""Metric names, units and how each is computed from a run's spans.

End-to-end metrics (every workload, ``--trace 0``): ``setup_s``,
``pass_s``, ``cpu_s``, ``peak_rss_mb``. Each is printed by every workload
and is never 0. Per-layer metrics (every workload, ``--trace 1``) are
named after the module of the layer call; a layer the workload leaves
idle reports 0. The figures that exist on one workload only
(``scan_mb_s``, ``write_mb_s``, ``fetch_p50_ms``, ``fetch_ms``) and
``failed_frac`` (0 on a correct run) ride on the detail line.
"""

from __future__ import annotations

import statistics

from workloads import REGISTRY_ENTRIES

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

_REGISTRY_KEYS = {"wall_ms": "ms", "jobs": "count", "driver_only_ms": "ms",
                  "cpu_ms": "ms", "shuffle_bytes": "B", "gc_ms": "ms"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.whisper.scan_ms": "ms",
    "sources.whisper.scan_tasks": "count",
    "sources.whisper.scan_cpu_ms": "ms",
    "sources.whisper.load_ms": "ms",
    "sources.whisper.fetch_jobs": "count",
    "sources.fetch.select_archive_ms": "ms",
    "sources.fetch.rows_per_slot": "rows/slot",
    "sources.whisper_write.write_ms": "ms",
    "sources.whisper_write.shuffle_write_bytes": "B",
    "sources.whisper_write.cpu_ms": "ms",
    "sources.whisper_write.bytes_per_point": "B/B",
    "operators.rollup.ms": "ms",
    "operators.rollup.jobs": "count",
    "operators.rollup.shuffle_write_bytes": "B",
    "sources.meta.archive_meta_ms": "ms",
    **{f"registry.{e}.{k}": u for e in REGISTRY_ENTRIES for k, u in _REGISTRY_KEYS.items()},
    "spark.jobs": "count",
    "spark.gc_ms": "ms",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def workload_metrics(workload, tracer) -> dict:
    """The workload's own end-to-end figures from its untraced spans."""
    spans = [s for s in tracer.spans if not s.attrs.get("traced") and s.attrs.get("pass")]
    out = {}
    scans = [s for s in spans if s.name == "sources.whisper.scan"]
    if scans:
        out["scan_mb_s"] = scans[0].attrs["bytes"] / 1e6 / _median(
            s.wall_ms / 1e3 for s in scans)
    writes = [s for s in spans if s.name == "sources.whisper_write.write_whisper"]
    if writes:
        out["write_mb_s"] = workload.stored_bytes / 1e6 / _median(
            s.wall_ms / 1e3 for s in writes)
    fetches = [s.wall_ms for s in spans if s.name == "sources.fetch.fetch"]
    if fetches:
        # a run has too few fetches for a p90 with ten samples beyond it;
        # the latencies are kept so that runs can be pooled for one
        out["fetch_p50_ms"] = _median(fetches)
        out["fetch_ms"] = fetches
    return out


def op_medians(tracer) -> dict[str, float]:
    """Median wall ms per op name over the untraced timed passes."""
    walls: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.attrs.get("pass") and not s.attrs.get("traced"):
            walls.setdefault(s.name, []).append(s.wall_ms)
    return {k: _median(v) for k, v in walls.items()}


def per_layer(tracer, workload, session_start_s: float, pass_walls: dict) -> dict:
    """Every :data:`PER_LAYER` metric from the traced spans: the median over
    the calls of a layer, or over passes for the ``spark.*`` totals."""
    traced = [s for s in tracer.spans if s.attrs.get("traced")]

    def med(name: str, key: str = "wall_ms") -> float:
        return _median((s.wall_ms if key == "wall_ms" else s.record[key])
                       for s in traced if s.name == name)

    out = {
        "session.start_s": session_start_s,
        "sources.whisper.scan_ms": med("sources.whisper.scan"),
        "sources.whisper.scan_tasks": med("sources.whisper.scan", "tasks"),
        "sources.whisper.scan_cpu_ms": med("sources.whisper.scan", "executor_cpu_ms"),
        "sources.whisper.load_ms": med("sources.whisper.load"),
        "sources.whisper.fetch_jobs": med("sources.fetch.fetch", "jobs"),
        "sources.fetch.select_archive_ms": med("sources.fetch.select_archive"),
        "sources.fetch.rows_per_slot": _median(
            s.attrs["rows"] / s.attrs["slots"] for s in traced
            if s.name == "sources.fetch.fetch"),
        "sources.whisper_write.write_ms": med("sources.whisper_write.write_whisper"),
        "sources.whisper_write.shuffle_write_bytes": med(
            "sources.whisper_write.write_whisper", "shuffle_write_bytes"),
        "sources.whisper_write.cpu_ms": med(
            "sources.whisper_write.write_whisper", "executor_cpu_ms"),
        "sources.whisper_write.bytes_per_point": 0.0,
        "operators.rollup.ms": med("operators.rollup"),
        "operators.rollup.jobs": med("operators.rollup", "jobs"),
        "operators.rollup.shuffle_write_bytes": med("operators.rollup", "shuffle_write_bytes"),
        "sources.meta.archive_meta_ms": med("sources.meta.archive_meta"),
    }
    if any(s.name == "sources.whisper_write.write_whisper" for s in traced):
        out["sources.whisper_write.bytes_per_point"] = (
            workload.stored_bytes / workload.user_bytes)
    for e in REGISTRY_ENTRIES:
        name = f"registry.{e}"
        out[f"{name}.wall_ms"] = med(name)
        out[f"{name}.jobs"] = med(name, "jobs")
        out[f"{name}.driver_only_ms"] = med(name, "driver_only_ms")
        out[f"{name}.cpu_ms"] = med(name, "executor_cpu_ms")
        out[f"{name}.shuffle_bytes"] = med(name, "shuffle_write_bytes")
        out[f"{name}.gc_ms"] = med(name, "jvm_gc_ms")
    per_pass: dict[int, list] = {}
    for s in traced:
        if s.attrs.get("timed"):
            per_pass.setdefault(s.attrs["pass"], []).append(s.record)
    out["spark.jobs"] = _median(sum(r["jobs"] for r in p) for p in per_pass.values())
    out["spark.gc_ms"] = _median(sum(r["jvm_gc_ms"] for r in p) for p in per_pass.values())
    out["trace.pass_s"] = _median(pass_walls[True])
    out["trace.overhead_s"] = out["trace.pass_s"] - _median(pass_walls[False])
    return out
