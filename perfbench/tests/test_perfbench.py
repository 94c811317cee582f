"""Tests of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/tests -q

The smoke tests run the command in a subprocess; the rest share one
Spark session started the way the command starts it.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from dataclasses import asdict
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run_cli(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.PER_LAYER


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_prints_every_end_to_end_metric(workload):
    res = _run_cli(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert res["metrics"] == {
        k: {"value": res["metrics"][k]["value"], "unit": u}
        for k, u in metrics.END_TO_END.items()}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced_prints_every_per_layer_metric():
    res = _run_cli("whisper_ingest_fetch", 1)
    assert res["correct"]
    assert {k: m["unit"] for k, m in res["metrics"].items()} == metrics.PER_LAYER
    # the layers this workload drives report work; the registry is idle
    got = {k: m["value"] for k, m in res["metrics"].items()}
    assert got["sources.whisper_write.write_ms"] > 0
    assert got["sources.fetch.select_archive_ms"] > 0
    assert got["sources.whisper.fetch_jobs"] >= 1
    assert got["registry.q1_pricing_summary.wall_ms"] == 0


@pytest.fixture(scope="module")
def spark():
    run.pin_session_env()
    session = run.start_session()
    yield session
    run.stop_session(session)
    shutil.rmtree(workloads.inputs.RUN, ignore_errors=True)


def test_wrong_expected_result_counts_as_failed(spark):
    wl = workloads.RelationalGraph()
    wl.prepare(7, "tiny")
    wl.start(spark)
    wrong = wl.expected["q1_pricing_summary"].copy()
    wrong["sum_qty"] += 1.0
    wl.expected["q1_pricing_summary"] = wrong
    h = run.Harness(spark, wl, spans.Tracer(spark, enabled=False))
    h.run_pass(0, traced=False)
    assert h.attempted == 1
    assert h.failed == 1
    assert h.failed / h.attempted == 1.0  # the detail line's failed_frac
    assert h.problems[0].startswith("float col sum_qty")


def _traced_q1(spark) -> spans.Span:
    from whisper_pandas_spark.registry import QUERIES

    tracer = spans.Tracer(spark, enabled=True)
    with tracer.span("registry.q1_pricing_summary", pass_no=1):
        QUERIES["q1_pricing_summary"](spark, str(workloads.inputs.SF_DIR)).write.format(
            "noop").mode("overwrite").save()
    return tracer.spans[0]


def test_span_record_schema_is_pinned(spark):
    span = _traced_q1(spark)
    assert set(asdict(span)) == {"name", "op_id", "parent", "start", "end",
                                 "wall_ms", "attrs", "record"}
    assert tuple(span.record) == spans.RECORD_KEYS
    assert span.end >= span.start and span.wall_ms > 0
    assert span.record["stages"] >= 1 and span.record["tasks"] >= 1
    assert 0 <= span.record["driver_only_ms"] <= span.wall_ms


def test_q1_job_count_is_pinned(spark):
    assert _traced_q1(spark).record["jobs"] == 5
