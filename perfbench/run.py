#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload whisper_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps:

1. build the seeded inputs and their expected outputs (untimed);
2. set-up, timed as ``setup_s``: start the Spark session, start the
   workload's layers, and run one warm-up pass whose every output is
   checked;
3. run passes until ``--seconds`` have elapsed (at least one), each op
   preceded, outside its timing, by ``registry.reset_result_caches()`` and
   a JVM gc;
4. stop the session and the JVM, and print two JSON lines: a detail line
   (session geometry, host state, workload-specific metrics, every
   problem found) and, last, the result line. With ``--trace 0`` the
   result holds the end-to-end metrics; with ``--trace 1`` it holds the
   per-layer metrics of traced passes, which alternate with untraced ones
   (at least one of each) so that the tracing overhead is measured in the
   same run.

Exits 1 when any output was wrong or any op failed, 2 when the program is
not found next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import host  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

#: Driver heap: the program's 16g default does not fit a 15 GB host.
DRIVER_MEMORY = "4g"


def pin_session_env() -> dict[str, str]:
    """Pin the session geometry the program reads from the environment and
    return it: one Spark core per host CPU, a heap that fits the host, the
    program's own shuffle-partition default, and an import path that lets
    Python workers import the program from any working directory."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {"SPARK_GRAFT_CPUS": cpus, "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
           "PYTHONPATH": os.pathsep.join(dict.fromkeys(path)),
           # no JVM perf-data files in the system temp directory
           "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData", **inputs.env_paths()}
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    return env


def start_session():
    from whisper_pandas_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    # a fixed heap size: a heap that shrinks after the gc before each op
    # and grows again makes the peak RSS depend on when it is sampled
    return get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
    })


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := [p for p in host.tree_pids() if p != os.getpid()]):
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
        for pid in left:  # reap our direct children
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


class Harness:
    """Runs passes of a workload's ops and keeps counts and problems."""

    def __init__(self, spark, workload, tracer) -> None:
        from whisper_pandas_spark.registry import reset_result_caches

        self.spark, self.workload, self.tracer = spark, workload, tracer
        self.reset = reset_result_caches
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.pass_walls: dict[bool, list[float]] = {False: [], True: []}

    def run_pass(self, pass_no: int, traced: bool) -> float:
        """One pass; returns the summed wall seconds of its timed ops."""
        self.tracer.enabled = traced
        wall = 0.0
        for op in self.workload.ops(pass_no, traced):
            if op.timed:
                self.spark._jvm.System.gc()
                self.reset()
            self.attempted += 1
            attrs = {"pass": pass_no, "traced": traced, "timed": op.timed, **(op.attrs or {})}
            try:
                with self.tracer.span(op.span, **attrs) as s:
                    out = op.run()
                if hasattr(out, "__len__"):
                    s.attrs["rows"] = len(out)
                problems = op.check(out) if op.check else []
            except Exception as ex:  # an op that raises counts as failed
                traceback.print_exc(file=sys.stderr)
                problems = [f"{op.span}: {type(ex).__name__}: {str(ex)[:300]}"]
            if problems:
                self.failed += 1
                self.problems.extend(problems)
            if op.timed:
                wall += s.wall_ms / 1e3
        self.tracer.enabled = False
        return wall


def run(args) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    from spans import Tracer

    geometry = pin_session_env()
    workload = WORKLOADS[args.workload]()
    t_prep = time.perf_counter()
    workload.prepare(args.seed, args.size)
    prepare_s = time.perf_counter() - t_prep

    load_start = os.getloadavg()[0]
    stat0 = host.cpu_times()
    t0 = time.perf_counter()
    spark = start_session()
    session_start_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, enabled=False)
        h = Harness(spark, workload, tracer)
        workload.start(spark)
        start_s = time.perf_counter() - t0 - session_start_s
        warm_s = h.run_pass(0, traced=False)
        setup_s = time.perf_counter() - t0

        passes = 0
        cpu0 = host.tree_cpu_s()
        w0 = time.perf_counter()
        with host.RssPeak() as rss:
            while True:
                # traced runs order passes T U U T T U ..., so a warm-up
                # drift across passes does not hide the tracing overhead
                traced = bool(args.trace) and (passes + 1) // 2 % 2 == 0
                h.pass_walls[traced].append(h.run_pass(passes + 1, traced))
                passes += 1
                done = time.perf_counter() - w0 >= args.seconds
                if done and (not args.trace or passes >= 2):
                    break
        window_s = time.perf_counter() - w0
        cpu_s = (host.tree_cpu_s() - cpu0) / passes
        conf = spark.sparkContext.getConf()
        session = {
            "master": spark.sparkContext.master,
            "cpus": int(geometry["SPARK_GRAFT_CPUS"]),
            "driver_memory": conf.get("spark.driver.memory"),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        }
        if args.trace:
            tracer.dump(inputs.WORK / f"spans-{args.workload}-{args.seed}.json")
    finally:
        stop_session(spark)

    untraced = h.pass_walls[False]
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "session": session,
        "host": {"loadavg_start": load_start,
                 "steal_pct": round(host.steal_pct(stat0, host.cpu_times()), 3)},
        "prepare_s": prepare_s,
        "setup": {"session_start_s": session_start_s, "workload_start_s": start_s,
                  "warm_pass_s": warm_s,
                  "warm_ops_ms": [(s.name, s.wall_ms) for s in tracer.spans
                                  if s.attrs["pass"] == 0]},
        "passes": passes, "window_s": window_s, "pass_walls_s": untraced,
        "op_ms": metrics.op_medians(tracer),
        "attempted": h.attempted, "failed": h.failed,
        "failed_frac": h.failed / h.attempted, "problems": h.problems[:20],
        "workload_metrics": metrics.workload_metrics(workload, tracer),
    }
    if args.trace:
        values = metrics.per_layer(tracer, workload, session_start_s, h.pass_walls)
    else:
        values = {"setup_s": setup_s, "pass_s": statistics.median(untraced),
                  "cpu_s": cpu_s, "peak_rss_mb": rss.peak_mb}
    units = metrics.UNITS
    result = {"correct": h.failed == 0, "attempted": h.attempted, "failed": h.failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    return detail, result


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    if not (ROOT / "whisper_pandas_spark" / "__init__.py").is_file():
        print(f"perfbench: the program (whisper_pandas_spark/) is not in {ROOT}",
              file=sys.stderr)
        return 2
    shutil.rmtree(inputs.RUN, ignore_errors=True)
    try:
        detail, result = run(args)
    finally:
        shutil.rmtree(inputs.RUN, ignore_errors=True)
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
