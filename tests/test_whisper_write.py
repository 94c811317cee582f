"""Whisper WRITE path (beyond reference parity — the reference leaves
writing as TBD): round-trip through our own reader, cascade rollup
values, header conformance, ring overwrite semantics, the segment reduce
against a per-bucket twin, and AST guards that keep the write path free
of per-row and per-bucket Python loops."""

from __future__ import annotations

import ast
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.sources import whisper_write
from whisper_pandas_spark.sources.format import AGGREGATION_METHODS, read_header
from whisper_pandas_spark.sources.whisper import register_whisper
from whisper_pandas_spark.sources.whisper_write import (
    build_wsp_bytes,
    parse_archives,
    write_whisper,
)

# 60-aligned (1.6e9 mod 60 = 40) so coarse windows start exactly at BASE —
# an unaligned base leaves the first/last 60 s windows partial and the
# xFilesFactor gate correctly drops them.
BASE = 1_599_999_960


@pytest.fixture(scope="module")
def points_df(spark):
    rows = [
        ("srv.cpu", BASE + 10 * i, float(i)) for i in range(120)
    ] + [
        ("srv.mem", BASE + 10 * i, float(1000 + i)) for i in range(60)
    ]
    return spark.createDataFrame(rows, ["metric", "epoch", "value"]).select(
        "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
    )


def test_write_read_roundtrip(spark, points_df, tmp_path):
    register_whisper(spark)
    out = str(tmp_path / "tree")
    write_whisper(points_df, out, archives="10:200,60:50", aggregation="average")

    df = spark.read.format("whisper").option("base_dir", out).load(out)
    fine = df.filter(F.col("archive") == 0)
    got = {
        (r["metric"], int(r["timestamp"].timestamp())): r["value"]
        for r in fine.collect()
    }
    assert got[("srv.cpu", BASE)] == 0.0
    assert got[("srv.cpu", BASE + 10 * 119)] == 119.0
    assert got[("srv.mem", BASE + 10 * 59)] == 1059.0
    assert len([k for k in got if k[0] == "srv.cpu"]) == 120

    # coarse archive = average rollup of the fine one (10 s -> 60 s: 6 slots)
    coarse = {
        int(r["timestamp"].timestamp()): r["value"]
        for r in df.filter(
            (F.col("archive") == 1) & (F.col("metric") == "srv.cpu")
        ).collect()
    }
    assert coarse[BASE] == pytest.approx(sum(range(6)) / 6)
    assert coarse[BASE + 60] == pytest.approx(sum(range(6, 12)) / 6)


def test_written_header_conformance(points_df, tmp_path, spark):
    out = str(tmp_path / "tree2")
    write_whisper(
        points_df, out, archives="10:200,60:50", aggregation="max",
        x_files_factor=0.25,
    )
    info = read_header(f"{out}/srv/cpu.wsp")
    assert info.aggregation_method == "max"
    assert info.x_files_factor == pytest.approx(0.25)
    assert [a.seconds_per_point for a in info.archives] == [10, 60]
    assert [a.points for a in info.archives] == [200, 50]
    assert info.file_size_mismatch is False


def test_ring_overwrite_last_write_wins():
    # two points landing in the same 10 s slot: the later one survives
    buf = build_wsp_bytes(
        [BASE + 1, BASE + 9], [1.0, 2.0], [(10, 16)], "average"
    )
    import numpy as np

    arr = np.frombuffer(buf, dtype=[("ts", ">u4"), ("val", ">f8")], offset=28)
    filled = arr[arr["ts"] != 0]
    assert len(filled) == 1
    assert filled["val"][0] == 2.0
    assert int(filled["ts"][0]) == BASE  # slot-aligned timestamp


def test_retention_drops_expired_points():
    # archive holds 4 slots x 10 s = 40 s; points older than newest-40s drop
    buf = build_wsp_bytes(
        [BASE, BASE + 100], [1.0, 2.0], [(10, 4)], "average"
    )
    import numpy as np

    arr = np.frombuffer(buf, dtype=[("ts", ">u4"), ("val", ">f8")], offset=28)
    filled = arr[arr["ts"] != 0]
    assert len(filled) == 1 and filled["val"][0] == 2.0


def _archive(buf: bytes, n_archives: int, skip_points: int, points: int):
    import numpy as np

    offset = 16 + 12 * n_archives + 12 * skip_points
    arr = np.frombuffer(
        buf, dtype=[("ts", ">u4"), ("val", ">f8")], count=points, offset=offset
    )
    return arr[arr["ts"] != 0]


def test_rollup_uses_last_write_per_fine_slot():
    # 3 points land in fine slot BASE (stored value = last write, 2.0);
    # the rollup must aggregate the STORED fine archive, not the raw
    # points — Graphite cascades from the last-write-wins finer archive.
    ts = [BASE + 1, BASE + 5, BASE + 9] + [BASE + 10 * i for i in range(1, 6)]
    vals = [100.0, 50.0, 2.0] + [float(i) for i in range(1, 6)]
    buf = build_wsp_bytes(ts, vals, [(10, 12), (60, 4)], "average")
    coarse = _archive(buf, 2, 12, 4)
    assert len(coarse) == 1
    assert coarse["val"][0] == pytest.approx((2.0 + 1 + 2 + 3 + 4 + 5) / 6)


def test_xff_counts_distinct_slots_not_points():
    # 4 points but only 2 distinct fine slots in a 6-slot bucket: fill is
    # 2/6 < xff 0.5, so the coarse bucket must drop. Counting raw points
    # (4/6) would wrongly keep it.
    ts = [BASE + 1, BASE + 9, BASE + 11, BASE + 19]
    buf = build_wsp_bytes(ts, [1.0, 2.0, 3.0, 4.0], [(10, 12), (60, 4)], "average", 0.5)
    assert len(_archive(buf, 2, 12, 4)) == 0


def test_rollup_last_takes_latest_fine_point():
    # 'last' = value at the max fine timestamp; in-slot duplicates must
    # resolve to the last WRITE before the rollup picks the bucket value.
    ts = [BASE, BASE + 50, BASE + 59]
    buf = build_wsp_bytes(ts, [1.0, 99.0, 7.0], [(10, 12), (60, 4)], "last", 0.1)
    coarse = _archive(buf, 2, 12, 4)
    assert len(coarse) == 1
    assert coarse["val"][0] == 7.0


def test_merge_overlays_existing_image():
    layout = [(10, 12), (60, 4)]
    buf1 = build_wsp_bytes([BASE, BASE + 10], [1.0, 2.0], layout, "average", 0.1)
    buf2 = build_wsp_bytes(
        [BASE + 10, BASE + 20], [20.0, 3.0], layout, "average", 0.1, existing=buf1
    )
    fine = _archive(buf2, 2, 0, 12)
    got = {int(r["ts"]): float(r["val"]) for r in fine}
    # batch-1 point survives; colliding slot takes the new write
    assert got == {BASE: 1.0, BASE + 10: 20.0, BASE + 20: 3.0}
    coarse = _archive(buf2, 2, 12, 4)
    assert coarse["val"][0] == pytest.approx((1.0 + 20.0 + 3.0) / 3)

    with pytest.raises(ValueError, match="archive layout"):
        build_wsp_bytes([BASE], [1.0], [(10, 8)], "average", 0.1, existing=buf1)


def test_write_whisper_merge_across_writes(spark, tmp_path):
    out = str(tmp_path / "merge_tree")
    for lo, hi in ((0, 30), (30, 60)):
        df = spark.createDataFrame(
            [("srv.cpu", BASE + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select("metric", F.timestamp_seconds("epoch").alias("timestamp"), "value")
        write_whisper(df, out, archives="10:200,60:50", merge=True)
    register_whisper(spark)
    fine = (
        spark.read.format("whisper").option("base_dir", out).load(out)
        .filter(F.col("archive") == 0)
    )
    assert fine.count() == 60  # first write's points survived the second


def test_invalid_specs():
    with pytest.raises(ValueError, match="integer multiples"):
        parse_archives("10:100,25:50")
    with pytest.raises(ValueError, match="aggregation"):
        build_wsp_bytes([BASE], [1.0], [(10, 4)], "bogus")


@pytest.mark.parametrize(
    "spec, bad",
    [("10:0", "10:0"), ("0:10,60:5", "0:10"), ("-10:5", "-10:5")],
)
def test_parse_archives_rejects_nonpositive(spec, bad):
    """A zero-point archive would silently drop every point; a zero or
    negative resolution used to raise ZeroDivisionError/struct.error."""
    with pytest.raises(ValueError, match=f"archive '{bad}'"):
        parse_archives(spec)


def test_writer_rejects_null_metric(tmp_path):
    import pyarrow as pa

    batch = pa.RecordBatch.from_pydict(
        {"metric": ["a.b", None], "timestamp": [BASE, BASE + 10], "value": [1.0, 2.0]}
    )
    writer = whisper_write.WhisperWriter({"out_dir": str(tmp_path)})
    with pytest.raises(ValueError, match="NULL metric"):
        writer.write(iter([batch]))


# --- the segment reduce against the per-bucket loop it replaced ---------

def _reduce(method: str, ts, vals, expected_slots: int):
    """One coarse bucket, the way the writer reduced it before
    ``_reduce_segments``: the per-bucket twin."""
    if method == "average":
        return float(np.mean(vals))
    if method == "sum":
        return float(np.sum(vals))
    if method == "last":
        return float(vals[np.argmax(ts)])
    if method == "max":
        return float(np.max(vals))
    if method == "min":
        return float(np.min(vals))
    if method == "avg_zero":
        return float(np.sum(vals) / expected_slots)
    if method == "absmax":
        return float(vals[np.argmax(np.abs(vals))])
    if method == "absmin":
        return float(vals[np.argmin(np.abs(vals))])
    raise ValueError(method)


def _per_bucket_twin(method, vals, starts, ends, counts, expected):
    # finer timestamps are sorted and unique inside a bucket, so their
    # positions order them exactly as the timestamps do
    return np.array(
        [
            _reduce(method, np.arange(lo, hi), vals[lo:hi], expected)
            for lo, hi in zip(starts, ends)
        ],
        dtype="float64",
    )


MATRIX_LAYOUT = [(10, 1200), (60, 300), (600, 40)]  # 6 and 10 slots per bucket
EXACT_METHODS = ("last", "max", "min", "absmax", "absmin")


def _matrix_points(shape: str):
    rng = np.random.default_rng(7)
    n = 1100
    ts = BASE + 10 * np.arange(n)
    vals = rng.normal(0.0, 1e3, n)
    if shape == "gappy":
        keep = rng.random(n) < 0.55
        ts, vals = ts[keep], vals[keep]
    elif shape == "duplicate_slots":
        pick = rng.integers(0, n, 700)
        ts = np.concatenate([ts, BASE + 10 * pick + rng.integers(0, 10, 700)])
        vals = np.concatenate([vals, rng.normal(0.0, 1e3, 700)])
    elif shape == "nan":
        vals[rng.random(n) < 0.05] = np.nan
    elif shape == "signed_zero":
        vals = rng.choice([0.0, -0.0, 1.5, -1.5], n)
    return ts, vals


def _build(ts, vals, method, xff, merge: bool) -> bytes:
    if not merge:
        return build_wsp_bytes(ts, vals, MATRIX_LAYOUT, method, xff)
    cut = len(ts) * 2 // 3  # the second write overlaps the first's tail
    first = build_wsp_bytes(ts[:cut], vals[:cut], MATRIX_LAYOUT, method, xff)
    lo = len(ts) // 2
    return build_wsp_bytes(
        ts[lo:], vals[lo:] + 1.0, MATRIX_LAYOUT, method, xff, existing=first
    )


def _points(buf: bytes):
    arr = np.frombuffer(
        buf, dtype=[("ts", ">u4"), ("val", ">f8")], offset=16 + 12 * len(MATRIX_LAYOUT)
    )
    return arr["ts"].astype("int64"), arr["val"].astype("float64")


@pytest.mark.parametrize(
    "shape", ["gap_free", "gappy", "duplicate_slots", "nan", "signed_zero", "merge"]
)
@pytest.mark.parametrize("xff", [0.0, 0.5, 1.0])
@pytest.mark.parametrize("method", sorted(AGGREGATION_METHODS.values()))
def test_segment_reduce_matches_per_bucket_twin(monkeypatch, method, xff, shape):
    ts, vals = _matrix_points("gap_free" if shape == "merge" else shape)
    got = _build(ts, vals, method, xff, shape == "merge")
    monkeypatch.setattr(whisper_write, "_reduce_segments", _per_bucket_twin)
    want = _build(ts, vals, method, xff, shape == "merge")
    if method in EXACT_METHODS:
        assert got == want  # every slot and value, bit for bit
        return
    g_ts, g_vals = _points(got)
    w_ts, w_vals = _points(want)
    np.testing.assert_array_equal(g_ts, w_ts)
    np.testing.assert_allclose(g_vals, w_vals, rtol=1e-12, atol=0, equal_nan=True)


@pytest.mark.parametrize("n_points", [0, 1])
@pytest.mark.parametrize("method", sorted(AGGREGATION_METHODS.values()))
def test_segment_reduce_on_an_empty_finer_archive(monkeypatch, method, n_points):
    """One point fills 1 of the 6 slots of its 60 s bucket, so xff 0.5 drops
    it and the 3600 s archive rolls up from no finer points; with no points
    at all the 60 s archive already does. Both must write, like the twin."""
    layout = parse_archives("10:8640,60:10080,3600:8760")
    ts, vals = [BASE][:n_points], [1.5][:n_points]
    got = build_wsp_bytes(ts, vals, layout, method, 0.5)
    monkeypatch.setattr(whisper_write, "_reduce_segments", _per_bucket_twin)
    assert got == build_wsp_bytes(ts, vals, layout, method, 0.5)


def test_average_sums_left_to_right_like_graphite():
    """Graphite stores ``float(sum(knownValues)) / len(knownValues)``; the
    10-point buckets here sum differently pairwise (``np.mean``)."""
    ts, vals = _matrix_points("gap_free")
    buf = build_wsp_bytes(ts, vals, MATRIX_LAYOUT, "average", 0.0)
    mid = _archive(buf, 3, 1200, 300)
    finer = dict(zip(mid["ts"].tolist(), mid["val"].tolist()))
    coarse = _archive(buf, 3, 1500, 40)
    assert len(coarse) > 0
    pairwise_differs = False
    for b, value in zip(coarse["ts"].tolist(), coarse["val"].tolist()):
        v = [finer[t] for t in sorted(finer) if b <= t < b + 600]
        assert value == float(sum(v)) / len(v)
        pairwise_differs |= float(np.mean(v)) != value
    assert pairwise_differs  # the check tells the two orders apart


# --- AST guards ----------------------------------------------------------

WRITER_SRC = Path(whisper_write.__file__)
_PER_ROW = {"to_pylist", "tolist", "as_py"}
_NP_REDUCERS = {
    "mean", "sum", "max", "min", "argmax", "argmin", "average", "median",
    "nanmean", "nansum", "nanmax", "nanmin", "nanargmax", "nanargmin", "bincount",
}


def per_row_calls(tree: ast.AST) -> set[int]:
    """Lines of ``.to_pylist()``-style calls inside ``WhisperWriter.write``."""
    return {
        node.lineno
        for cls in ast.walk(tree)
        if isinstance(cls, ast.ClassDef) and cls.name == "WhisperWriter"
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef) and fn.name == "write"
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _PER_ROW
    }


def reducer_functions(tree: ast.AST) -> set[str]:
    """Top-level functions that reduce values: ``np.<reduction>(...)`` or a
    ufunc ``.reduce``/``.reduceat``."""
    out = set()
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            f = node.func if isinstance(node, ast.Call) else None
            if not isinstance(f, ast.Attribute):
                continue
            if f.attr in ("reduce", "reduceat") or (
                f.attr in _NP_REDUCERS
                and isinstance(f.value, ast.Name)
                and f.value.id == "np"
            ):
                out.add(fn.name)
    return out


def bucket_loops(tree: ast.AST) -> set[int]:
    """Lines of loops in ``build_wsp_bytes`` that iterate over anything
    but the archive layout."""
    out = set()
    for fn in ast.walk(tree):
        if not (isinstance(fn, ast.FunctionDef) and fn.name == "build_wsp_bytes"):
            continue
        for node in ast.walk(fn):
            iters = (
                [node.iter]
                if isinstance(node, ast.For)
                else [g.iter for g in getattr(node, "generators", [])]
            )
            for it in iters:
                names = {
                    n.id if isinstance(n, ast.Name) else n.attr
                    for n in ast.walk(it)
                    if isinstance(n, (ast.Name, ast.Attribute))
                }
                if "archives" not in names:
                    out.add(node.lineno)
    return out


def test_writer_has_no_per_row_or_per_bucket_python_loop():
    tree = ast.parse(WRITER_SRC.read_text())
    assert per_row_calls(tree) == set()
    assert reducer_functions(tree) == {"_reduce_segments"}
    assert bucket_loops(tree) == set()


def test_writer_guards_catch_each_shape():
    tree = ast.parse(
        """
def _reduce(method, ts, vals, expected):
    return float(np.mean(vals))

def _reduce_segments(method, vals, starts, ends, counts, expected):
    return np.maximum.reduceat(vals, starts)

def build_wsp_bytes(ts, vals, archives, aggregation):
    for i, (spp, pts) in enumerate(archives):
        out = [_reduce(aggregation, ts[lo:hi], vals[lo:hi], 6)
               for lo, hi in zip(starts, ends)]

class WhisperWriter:
    def write(self, iterator):
        for batch in iterator:
            mets = batch.column(0).to_pylist()
"""
    )
    assert len(per_row_calls(tree)) == 1
    assert reducer_functions(tree) == {"_reduce", "_reduce_segments"}
    assert len(bucket_loops(tree)) == 1
