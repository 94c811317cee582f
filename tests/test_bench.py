"""The timing path in ``bench.py``: ``timed`` is the one clock pair every
timing in ``bench.py`` and ``tools/`` goes through, ``entry_reps`` the one
registry-entry protocol, and ``final_line`` the compact headline record
that readers of a run parse from the last ~2000 characters of output."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import bench

REPO = Path(__file__).resolve().parents[1]

# The functions in bench.py that may read the clock: the timed span and
# the two host probes.
_CLOCK_OWNERS = {"timed", "_spin_probe", "_burn"}


def clock_reads(tree: ast.AST, owners=frozenset()) -> list[tuple[int, bool]]:
    """``(line, opens_span)`` of every ``perf_counter`` mention outside the
    top-level functions named in ``owners``. A mention that is not the
    clock call on the left of a subtraction (``perf_counter() - t0``)
    opens a span."""
    skip = {
        id(n)
        for node in getattr(tree, "body", [])
        if isinstance(node, ast.FunctionDef) and node.name in owners
        for n in ast.walk(node)
    }
    closing = {
        id(n.left.func)
        for n in ast.walk(tree)
        if isinstance(n, ast.BinOp)
        and isinstance(n.op, ast.Sub)
        and isinstance(n.left, ast.Call)
    }
    return sorted(
        (n.lineno, id(n) not in closing)
        for n in ast.walk(tree)
        if id(n) not in skip
        and (
            (isinstance(n, ast.Attribute) and n.attr == "perf_counter")
            or (isinstance(n, ast.Name) and n.id == "perf_counter")
        )
    )


def timing_sites(root: Path) -> list[tuple[str, int, bool]]:
    """Clock reads in ``root``'s ``tools/*.py`` and ``bench.py`` outside
    the functions allowed one."""
    files = [(p, frozenset()) for p in sorted((root / "tools").glob("*.py"))]
    files.append((root / "bench.py", frozenset(_CLOCK_OWNERS)))
    return [
        (str(path.relative_to(root)), line, opens)
        for path, owners in files
        for line, opens in clock_reads(ast.parse(path.read_text()), owners)
    ]


def test_no_hand_written_timed_span():
    """No tool and no bench.py function but the timed span and the host
    probes reads ``time.perf_counter``: every timing shares one clock
    pair, so every record comes from one protocol."""
    sites = timing_sites(REPO)
    spans = sum(opens for _, _, opens in sites)
    assert not sites, f"{spans} hand-written timed spans: {sites}"


def test_guard_flags_a_clock_read():
    src = """
import time
from time import perf_counter

def timed(fn):
    t0 = time.perf_counter()
    return fn(), time.perf_counter() - t0

def tool():
    t0 = perf_counter()
    work()
    return perf_counter() - t0

clock = time.perf_counter
"""
    tree = ast.parse(src)
    assert clock_reads(tree, {"timed"}) == [
        (10, True), (12, False), (14, True)
    ]
    assert len(clock_reads(tree)) == 5


def test_entry_reps_resets_before_every_rep(spark, sf_dir, monkeypatch):
    """Each rep drops the result caches, untimed, before its timed call,
    and each rep comes back as a positive wall."""
    from whisper_pandas_spark import registry

    log = []
    monkeypatch.setattr(
        registry, "reset_result_caches", lambda: log.append("reset")
    )
    q1 = registry.QUERIES["q1_pricing_summary"]

    def entry(spark, sf_dir):
        log.append("call")
        return q1(spark, sf_dir)

    df, walls = bench.entry_reps(spark, entry, sf_dir, 3)
    assert log == ["reset", "call"] * 3
    assert len(walls) == 3 and all(w > 0 for w in walls)
    assert df.columns == q1(spark, sf_dir).columns


# The final-line keys at the parent of the shared timing path: the
# BENCH_r15 headline plus ``cpus`` and ``master``.
_FINAL_KEYS = {
    "metric", "value", "unit", "queries", "queries2", "value_extended",
    "queries3", "value_r9plus", "reps", "capture", "load_at_start",
    "load_initial", "quiet_waits", "spin_waits", "spin_s", "spin_s_end",
    "steal_pct_start", "steal_waits", "steal_pct_session", "sf", "cpus",
    "master",
}


def test_final_line_keys_stanzas_and_size():
    """Built from fixed bests the way main builds it, the final line keeps
    its key set, the 15 / 5 / 17 stanza split and the ~2000-char tail
    budget."""
    bests = {name: 12.3456789 for name in bench.STANZA}
    gates = dict.fromkeys(bench.GATES, 123.45)
    line = bench.final_line(bests, 5, False, gates, "local[32]")
    assert set(line) == _FINAL_KEYS
    assert [len(line[k]) for k in ("queries", "queries2", "queries3")] == [
        15, 5, 17
    ]
    assert "whisper_scan_83mb" in line["queries"]
    assert line["value"] == round(15 * 12.3457, 4)
    assert line["capture"] == "best_of_5"
    assert len(json.dumps(line)) < 2000


def _spin_readings(monkeypatch, readings):
    """Feed ``readings`` to the spin gate with ``time.sleep`` stubbed out;
    return the gate's (last reading, waits spent)."""
    feed = iter(readings)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    return bench._wait_until_quiet(
        lambda: next(feed), bench.QUIET_SPIN, bench.SPIN_WAITS, bench.SPIN_STEADY
    )


def test_spin_gate_stops_on_a_steady_slow_host(monkeypatch):
    """A probe that reads a steady 1.1 s is a slow host, not a busy one:
    the gate spends at most one wait on it, not its whole budget."""
    value, waited = _spin_readings(monkeypatch, [1.1] * (bench.SPIN_WAITS + 1))
    assert value == 1.1 and waited <= 1


def test_spin_gate_still_waits_out_a_busy_spell(monkeypatch):
    """A slow reading followed by a quiet one waits once and passes."""
    value, waited = _spin_readings(monkeypatch, [1.2, 0.7])
    assert (value, waited) == (0.7, 1)
    assert value <= bench.QUIET_SPIN
