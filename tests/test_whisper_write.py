"""Whisper WRITE path (beyond reference parity — the reference leaves
writing as TBD): round-trip through our own reader, cascade rollup
values, header conformance, ring overwrite semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.sources.format import read_header
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
