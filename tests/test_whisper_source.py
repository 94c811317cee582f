"""Golden tests for the Whisper DataSource + meta API, porting the
reference's test strategy (SURVEY.md §5; reference assertions at
/root/reference/test_whisper_pandas.py:19-103) onto synthetic fixtures.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.wsp_fixtures import DEFAULT_ARCHIVES, END_TS, build_wsp


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    d = tmp_path_factory.mktemp("wsp")
    (d / "sensors").mkdir()
    golden = build_wsp(str(d / "sensors" / "temp.wsp"))
    build_wsp(str(d / "sensors" / "hum.wsp"), seed=7)
    build_wsp(str(d / "gz.wsp.gz"), gzip_out=True)
    # header (16+36=52B) + a bit of data, well short of full size
    build_wsp(str(d / "trunc.wsp"), truncate_to=5_000)
    return d, golden


def test_header_golden(fixtures):
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "sensors" / "temp.wsp"))
    assert info.aggregation_method == "average"
    assert info.x_files_factor == pytest.approx(0.5)
    assert info.archive_count == 3
    assert info.header_size == 16 + 12 * 3
    assert [(a.seconds_per_point, a.points) for a in info.archives] == [
        (10, 1600), (60, 5300), (3600, 90)
    ]
    assert info.archives[0].retention == 16000
    assert info.archives[0].size == 12 * 1600
    assert info.file_size == info.header_size + 12 * (1600 + 5300 + 90)
    assert info.file_size_mismatch is False


def test_header_truncated(fixtures):
    """Truncated file: header parses, mismatch exposed, not enforced
    (reference: test_whisper_pandas.py:100-103)."""
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "trunc.wsp"))
    assert info.archive_count == 3
    assert info.file_size_actual == 5_000
    assert info.file_size_mismatch is True


def test_header_gzip_and_bad_compression(fixtures):
    from whisper_pandas_spark.sources.format import read_header

    d, _ = fixtures
    info = read_header(str(d / "gz.wsp.gz"))
    assert info.archive_count == 3
    assert info.file_size_mismatch is True  # compressed on-disk size differs
    with pytest.raises(ValueError, match="Invalid compression"):
        read_header(str(d / "gz.wsp.gz"), compression="bogus")


#: garbage bytes whose archive-count field reads as ~1.88e9 archives
GARBAGE_HEADER = b"\x00\x02not-a-whisper-header" * 64


@pytest.mark.parametrize("name", ["garbage.wsp", "garbage.wsp.gz"])
def test_header_impossible_archive_count(spark, tmp_path, name):
    """A header naming more archives than the file holds raises ValueError
    (plain and gzip) instead of asking for 12 x count bytes, so a skip-mode
    scan drops the file and keeps its healthy neighbour."""
    import gzip

    from whisper_pandas_spark.sources.format import read_header
    from whisper_pandas_spark.sources.whisper import register_whisper

    bad = tmp_path / name
    bad.write_bytes(
        gzip.compress(GARBAGE_HEADER) if name.endswith(".gz") else GARBAGE_HEADER
    )
    with pytest.raises(ValueError, match="archives"):
        read_header(str(bad))

    golden = build_wsp(str(tmp_path / "good.wsp"), archives=[(10, 64, 1.0)])
    register_whisper(spark)
    rows = (
        spark.read.format("whisper").option("on_error", "skip")
        .option("to_datetime", "false").load(str(tmp_path)).collect()
    )
    assert sorted((r.timestamp, r.value) for r in rows) == [
        (int(t), v) for t, v in golden[0].filled
    ]


def test_scan_golden(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    df = spark.read.format("whisper").load(str(d / "sensors" / "temp.wsp"))
    assert [f.name for f in df.schema.fields] == [
        "metric", "archive", "slot", "timestamp", "value"
    ]
    pdf = df.toPandas()
    # per-archive filled row counts match the generator
    for i, (spp, points, fill) in enumerate(DEFAULT_ARCHIVES):
        sub = pdf[pdf.archive == i]
        assert len(sub) == len(golden[i].filled)
        # chronological order within archive partitions → global compare via sort
        sub = sub.sort_values("timestamp")
        ts = sub.timestamp.astype("int64") // 10**9
        np.testing.assert_array_equal(ts.to_numpy(), golden[i].filled[:, 0])
        np.testing.assert_allclose(
            sub.value.to_numpy(), golden[i].filled[:, 1], atol=1e-5
        )
        # timestamps unique + monotonic per archive (reference :62-67)
        assert ts.is_unique and ts.is_monotonic_increasing
        # newest point is END_TS
        assert ts.iloc[-1] == END_TS
    assert (pdf.metric == "temp").all()


def test_scan_ring_wrap_slot(spark, fixtures):
    """Earliest timestamp lives at a mid-buffer slot (ring wrap —
    reference: test_whisper_pandas.py:47-51)."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    pdf = (
        spark.read.format("whisper")
        .load(str(d / "sensors" / "temp.wsp"))
        .filter("archive = 0")
        .toPandas()
        .sort_values("timestamp")
    )
    first_slot = pdf.slot.iloc[0]
    ts0 = int(pdf.timestamp.iloc[0].timestamp())
    assert first_slot == (ts0 // 10) % 1600
    assert first_slot != 0  # wrapped


def test_scan_options(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, golden = fixtures
    path = str(d / "sensors" / "temp.wsp")
    # to_datetime=false → LONG epoch; dtype=float32 → FLOAT
    df = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .option("dtype", "float32")
        .load(path)
    )
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["timestamp"] == "bigint"
    assert types["value"] == "float"
    row = df.filter("archive = 2").orderBy("timestamp").limit(1).collect()[0]
    assert row.timestamp == int(golden[2].filled[0, 0])
    # drop_time_zero=false → all declared slots surface
    df_all = (
        spark.read.format("whisper").option("drop_time_zero", "false").load(path)
    )
    counts = {r["archive"]: r["count"] for r in df_all.groupBy("archive").count().collect()}
    assert counts == {0: 1600, 1: 5300, 2: 90}


def test_scan_directory_multi_file(spark, fixtures):
    """A directory of .wsp files is ONE DataFrame with a metric column."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").load(str(d / "sensors"))
    metrics = {r.metric for r in df.select("metric").distinct().collect()}
    assert metrics == {"temp", "hum"}


def test_scan_gzip(spark, fixtures):
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").load(str(d / "gz.wsp.gz"))
    assert df.count() == sum(
        max(1, int(p * f)) for _, p, f in DEFAULT_ARCHIVES
    )


def test_meta_dataframes(spark, fixtures):
    from whisper_pandas_spark.sources.meta import archive_meta, file_meta

    d, _ = fixtures
    fm = file_meta(spark, str(d / "sensors")).toPandas()
    assert len(fm) == 2
    assert set(fm.aggregation_method) == {"average"}
    am = archive_meta(spark, str(d / "sensors")).toPandas()
    assert len(am) == 6
    assert set(am.seconds_per_point) == {10, 60, 3600}


def test_cli(fixtures, capsys):
    from whisper_pandas_spark.cli import main

    d, _ = fixtures
    main([str(d / "sensors" / "temp.wsp")])
    out = capsys.readouterr().out
    assert "aggregation_method:  average" in out
    assert "archive_count:       3" in out
    # explicit subcommand form is equivalent (bare paths = reference CLI)
    main(["info", str(d / "sensors" / "temp.wsp")])
    assert "archive_count:       3" in capsys.readouterr().out


def test_cli_fetch(spark, fixtures, capsys):
    """`fetch` prints the header line, the selected archive's points and
    the row total past --limit."""
    from whisper_pandas_spark.cli import main

    d, _ = fixtures
    lo, hi = END_TS - 500, END_TS - 100
    main(["fetch", str(d / "sensors" / "temp.wsp"), str(lo), str(hi),
          "--now", str(END_TS), "--limit", "5"])
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == f"{'metric':<30} {'archive':>7} {'timestamp':>20} {'value':>12}"
    assert len(lines) == 7
    assert all(ln.split()[:2] == ["temp", "0"] for ln in lines[1:6]), lines
    assert lines[-1] == "... (41 rows total)"


def test_cli_convert_materializes_parquet(spark, fixtures, tmp_path, capsys):
    """`convert` writes metric-partitioned parquet equal to the scan."""
    from whisper_pandas_spark.cli import main
    from whisper_pandas_spark.sources.whisper import register_whisper

    d, _ = fixtures
    out = str(tmp_path / "pq")
    main(["convert", str(d / "sensors"), out])
    text = capsys.readouterr().out
    assert "wrote" in text and "partitioned by metric" in text
    register_whisper(spark)
    scan_n = (
        spark.read.format("whisper").load(str(d / "sensors")).count()
    )
    pq = spark.read.parquet(out)
    assert pq.count() == scan_n
    assert "metric" in pq.columns


def test_cli_no_args_usage(capsys):
    """Bare invocation prints usage and exits 2 (no AttributeError)."""
    import pytest

    from whisper_pandas_spark.cli import main

    with pytest.raises(SystemExit) as exc:
        main([])
    assert exc.value.code == 2
    assert "usage:" in capsys.readouterr().out


def test_timestamp_pushdown_equivalence(spark, fixtures):
    """Pushed timestamp bounds must be lossless: filtered scan == full scan
    + post-filter, for both TIMESTAMP and LONG epoch columns."""
    from pyspark.sql import functions as F

    d, _ = fixtures
    path = str(d / "sensors" / "temp.wsp")
    full = spark.read.format("whisper").load(path).collect()
    mid = sorted(r["timestamp"] for r in full)[len(full) // 2]

    pushed = (
        spark.read.format("whisper").load(path)
        .filter(F.col("timestamp") >= F.lit(mid))
        .collect()
    )
    want = [r for r in full if r["timestamp"] >= mid]
    assert sorted((r["archive"], r["slot"]) for r in pushed) == sorted(
        (r["archive"], r["slot"]) for r in want
    )

    # LONG epoch variant (to_datetime=false): bounds arrive as ints
    full_l = (
        spark.read.format("whisper").option("to_datetime", "false").load(path).collect()
    )
    mid_ep = sorted(r["timestamp"] for r in full_l)[len(full_l) // 2]
    pushed_l = (
        spark.read.format("whisper").option("to_datetime", "false").load(path)
        .filter((F.col("timestamp") > F.lit(mid_ep)) & (F.col("timestamp") < F.lit(mid_ep + 7 * 86400)))
        .collect()
    )
    want_l = [r for r in full_l if mid_ep < r["timestamp"] < mid_ep + 7 * 86400]
    assert len(pushed_l) == len(want_l)


def test_materialize_roundtrip(spark, fixtures, tmp_path):
    """Whisper -> partitioned parquet -> read back: same rows, metric
    directories on disk, and parquet scans get partition pruning."""
    from whisper_pandas_spark.sources.materialize import (
        materialize_to_parquet,
        read_whisper,
    )

    d, _ = fixtures
    src = str(d / "sensors")
    out = str(tmp_path / "pq")
    back = materialize_to_parquet(spark, src, out, with_date=True)

    direct = read_whisper(spark, src)
    assert back.count() == direct.count()
    a = sorted(
        (r["metric"], r["archive"], r["slot"], r["value"]) for r in back.collect()
    )
    b = sorted(
        (r["metric"], r["archive"], r["slot"], r["value"]) for r in direct.collect()
    )
    assert a == b
    import os

    dirs = os.listdir(out)
    assert any(x.startswith("metric=") for x in dirs)

    # time_sorted layout: every written file is internally timestamp-
    # ordered (tight disjoint row-group min/max ranges for skipping)
    import glob as g

    import pyarrow.parquet as pq

    for f in g.glob(f"{out}/**/*.parquet", recursive=True):
        ts = pq.read_table(f, columns=["timestamp"])["timestamp"].to_pylist()
        assert ts == sorted(ts), f


def test_read_whisper_total_sort(spark, fixtures):
    from whisper_pandas_spark.sources.materialize import read_whisper

    d, _ = fixtures
    df = read_whisper(spark, str(d / "sensors"), total_sort=True)
    rows = df.select("metric", "timestamp").collect()
    assert rows == sorted(rows, key=lambda r: (r["metric"], r["timestamp"]))


def test_metric_filter_prunes_partitions(spark, fixtures):
    """metric equality must prune at PARTITION PLANNING time (driver skips
    whole files), not merely mask rows: the planned partition count drops."""
    from pyspark.sql import functions as F

    d, _ = fixtures
    path = str(d / "sensors")
    full = spark.read.format("whisper").load(path)
    pruned = spark.read.format("whisper").load(path).filter(
        F.col("metric") == "temp"
    )
    n_full = full.rdd.getNumPartitions()
    n_pruned = pruned.rdd.getNumPartitions()
    assert n_pruned < n_full  # one of two files planned
    assert {r["metric"] for r in pruned.select("metric").distinct().collect()} == {"temp"}


def test_fetch_selects_archive_and_pushes_bounds(spark, tmp_path):
    """Graphite fetch semantics: finest archive covering (now - from),
    both predicates pushed into the source. The plan goldens run on a
    file whose selected archive exceeds LOCAL_FETCH_SLOTS, the size that
    still goes through the distributed DataSource scan."""
    from wsp_fixtures import END_TS, build_wsp

    from whisper_pandas_spark.sources.fetch import (
        LOCAL_FETCH_SLOTS,
        fetch,
        select_archive,
    )

    p = str(tmp_path / "f.wsp")
    synth = build_wsp(p)  # archives: 10s x 1600 (16ks), 60s x 5300, 3600s x 90

    # short span -> archive 0; beyond fine retention -> archive 1
    assert select_archive(p, 1000) == 0
    assert select_archive(p, 10 * 1600 + 1) == 1
    assert select_archive(p, 10**9) == 2  # beyond all retentions -> coarsest

    lo, hi = END_TS - 500, END_TS - 100
    df = fetch(spark, p, lo, hi, now_epoch=END_TS)
    rows = df.collect()
    assert {r["archive"] for r in rows} == {0}
    got = sorted(int(r["timestamp"].timestamp()) for r in rows)
    exp = sorted(
        int(t) for t, _ in synth[0].filled if lo <= t <= hi
    )
    assert got == exp and len(got) == 41
    # archive selection spanning into the coarse archive
    df2 = fetch(spark, p, END_TS - 10 * 1600 - 50, END_TS, now_epoch=END_TS)
    assert {r["archive"] for r in df2.collect()} == {1}

    # the timestamp bounds and archive equality must reach the source
    # (and be consumed: no residual post-scan Filter)
    from whisper_pandas_spark.plans.inspect import formatted_plan

    big = str(tmp_path / "big.wsp")
    build_wsp(big, archives=[(10, LOCAL_FETCH_SLOTS + 1, 0.01), (60, 100, 1.0)])
    plan = formatted_plan(fetch(spark, big, lo, hi, now_epoch=END_TS))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(archive,0)" in pushed, plan
    assert "GreaterThanOrEqual(timestamp" in pushed, plan
    assert "LessThanOrEqual(timestamp" in pushed, plan
    assert "Filter" not in plan.replace("PushedFilters", ""), plan


@pytest.mark.parametrize(
    "case, lo, hi, local",
    [
        ("file", END_TS - 500, END_TS - 100, True),  # archive 0
        ("file", END_TS - 10 * 1600 - 50, END_TS, True),  # archive 1
        ("file", END_TS - 10**7, END_TS, True),  # archive 2
        ("file", END_TS + 10, END_TS + 100, True),  # empty window
        ("gzip", END_TS - 300, END_TS, True),
        ("tree", END_TS - 300, END_TS, True),
        ("big", END_TS - 3000, END_TS, False),
    ],
    ids=["archive0", "archive1", "archive2", "empty", "gzip", "tree", "above-bound"],
)
def test_fetch_matches_filtered_scan(spark, tmp_path, case, lo, hi, local):
    """fetch() returns what the whisper source returns under the same
    three predicates, row for row and with the same schema (nullability
    included); a read of at most LOCAL_FETCH_SLOTS slots is a driver-side
    LocalRelation with no data-source scan in its plan."""
    from pyspark.sql import functions as F
    from wsp_fixtures import build_wsp

    from whisper_pandas_spark.sources.fetch import (
        LOCAL_FETCH_SLOTS,
        fetch,
        select_archive,
    )
    from whisper_pandas_spark.sources.format import list_whisper_files
    from whisper_pandas_spark.sources.whisper import register_whisper

    if case == "tree":
        path = str(tmp_path)
        build_wsp(str(tmp_path / "a.wsp"))
        build_wsp(str(tmp_path / "b.wsp"), seed=5)
    elif case == "big":
        path = str(tmp_path / "big.wsp")
        build_wsp(path, archives=[(10, LOCAL_FETCH_SLOTS + 1, 0.01)])
    else:
        path = str(tmp_path / ("f.wsp.gz" if case == "gzip" else "f.wsp"))
        build_wsp(path, gzip_out=case == "gzip")

    got = fetch(spark, path, lo, hi, now_epoch=END_TS)
    register_whisper(spark)
    idx = select_archive(list_whisper_files(path)[0], END_TS - lo)
    want = spark.read.format("whisper").load(path).filter(
        (F.col("archive") == idx)
        & (F.col("timestamp") >= F.timestamp_seconds(F.lit(lo)))
        & (F.col("timestamp") <= F.timestamp_seconds(F.lit(hi)))
    )
    assert got.schema == want.schema
    assert [f.nullable for f in got.schema.fields] == [False] * 5
    rows = got.collect()
    assert rows == want.collect()
    assert (len(rows) == 0) == (lo > END_TS)

    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert ("LocalRelation" in plan) == local, plan
    assert ("RelationV2" in plan) == (not local), plan


def test_metric_prefix_pushdown_prunes_partitions(spark, fixtures):
    """`metric LIKE 'sensors.%'` (StringStartsWith) must prune the other
    files' partitions at PLANNING time and stay lossless."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import WhisperScanReader

    d, _ = fixtures
    path = str(d / "sensors")

    full = spark.read.format("whisper").option("base_dir", str(d)).load(path)
    pushed = full.filter(F.col("metric").startswith("sensors.temp"))
    expected = [r for r in full.collect() if r["metric"].startswith("sensors.temp")]
    got = pushed.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))
    assert {r["metric"] for r in got} == {"sensors.temp"}

    # planner-level proof: the reader plans no partitions for hum.wsp
    reader = WhisperScanReader({"path": path, "base_dir": str(d)})
    from pyspark.sql.datasource import StringStartsWith

    consumed = list(reader.pushFilters([StringStartsWith(("metric",), "sensors.temp")]))
    assert consumed == []  # filter fully consumed
    parts = reader.partitions()
    assert parts and all(p.metric == "sensors.temp" for p in parts)


def test_fully_pruned_scan_returns_empty(spark, fixtures):
    """Filters that prune EVERY partition must yield an empty DataFrame,
    not crash (Spark invokes read(None) on an empty partition list; the
    planner emits an explicit empty sentinel instead)."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d, _ = fixtures
    df = spark.read.format("whisper").option("base_dir", str(d)).load(
        str(d / "sensors")
    )
    assert df.filter(F.col("metric") == "no.such.metric").count() == 0
    assert df.filter(F.col("metric").startswith("zzz")).count() == 0
    assert df.filter(F.col("archive") == 99).count() == 0


def test_fetch_gzip_and_directory(spark, tmp_path):
    """fetch() resolves gzip files and directory trees (archive selected
    from the first file's header — uniform-retention assumption)."""
    from wsp_fixtures import END_TS, build_wsp

    from whisper_pandas_spark.sources.fetch import fetch

    d = tmp_path / "tree"
    (d / "sub").mkdir(parents=True)
    build_wsp(str(d / "sub" / "a.wsp"))
    build_wsp(str(d / "sub" / "b.wsp.gz"), seed=5, gzip_out=True)

    lo, hi = END_TS - 300, END_TS
    rows = fetch(spark, str(d), lo, hi, now_epoch=END_TS).collect()
    mets = {r["metric"] for r in rows}
    assert len(mets) == 2  # both plain and gzip files contribute
    assert {r["archive"] for r in rows} == {0}
    assert all(
        lo <= int(r["timestamp"].timestamp()) <= hi for r in rows
    )


def _raw_wsp(path, archives, points_by_archive, agg=1, xff=0.5):
    """Hand-craft a .wsp: archives = [(offset, spp, points)], points_by_archive
    = {archive_index: [(slot, ts, value), ...]}. Returns nothing; slots not
    listed stay zeroed (empty)."""
    import struct

    FILE_HEADER = struct.Struct(">LLfL")
    ARCHIVE_HEADER = struct.Struct(">LLL")
    POINT = struct.Struct(">Ld")
    max_ret = max(spp * pts for _, spp, pts in archives)
    buf = bytearray(FILE_HEADER.pack(agg, max_ret, xff, len(archives)))
    for off, spp, pts in archives:
        buf += ARCHIVE_HEADER.pack(off, spp, pts)
    end = max(off + 12 * pts for off, _, pts in archives)
    buf += b"\x00" * (end - len(buf))
    for ai, pb in points_by_archive.items():
        off = archives[ai][0]
        for slot, ts, val in pb:
            POINT.pack_into(buf, off + 12 * slot, ts, val)
    with open(path, "wb") as f:
        f.write(bytes(buf))


def test_epoch_zero_is_empty_not_a_timestamp(spark, tmp_path):
    """SURVEY §7 hard point 5: ts==0 means EMPTY SLOT, never the epoch —
    a slot explicitly written as (0, value) must vanish under the default
    drop_time_zero and surface (with its value) only when the option is
    off, exactly the reference convention (whisper_pandas.py:214-215)."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    p = str(tmp_path / "zero.wsp")
    header = 16 + 12
    # one archive, 8 slots; slot 3 holds (ts=0, value=7.5) — an "empty"
    # slot that nonetheless carries bytes; slots 1,2 are real points
    _raw_wsp(
        p,
        [(header, 10, 8)],
        {0: [(1, 1000, 1.0), (2, 1010, 2.0), (3, 0, 7.5)]},
    )
    dropped = (
        spark.read.format("whisper").option("to_datetime", "false").load(p)
    )
    got = {(r.timestamp, r.value) for r in dropped.collect()}
    assert got == {(1000, 1.0), (1010, 2.0)}  # (0, 7.5) gone by default
    kept = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .option("drop_time_zero", "false")
        .load(p)
    )
    by_slot = {r.slot: (r.timestamp, r.value) for r in kept.collect()}
    assert len(by_slot) == 8  # every declared slot surfaces
    assert by_slot[3] == (0, 7.5)  # the zero-epoch slot keeps its bytes


def test_overlapping_archive_offsets_decode_independently(spark, tmp_path):
    """Archive headers whose data regions OVERLAP (corrupt/adversarial
    header) must not crash or cross-contaminate: each archive decodes its
    declared (offset, points) window; shared bytes appear in both."""
    from whisper_pandas_spark.sources.format import read_header
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    p = str(tmp_path / "overlap.wsp")
    header = 16 + 2 * 12
    # archive 1's offset points INSIDE archive 0's region: arch0 covers
    # slots [0,8) at `header`, arch1 claims 4 slots starting at slot 2
    _raw_wsp(
        p,
        [(header, 10, 8), (header + 12 * 2, 60, 4)],
        {0: [(2, 2000, 9.0), (3, 2010, 8.0)]},
    )
    info = read_header(p)
    assert info.archives[1].offset < info.archives[0].offset + 12 * 8
    pdf = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .load(p)
        .toPandas()
    )
    a0 = pdf[pdf.archive == 0].set_index("slot")
    a1 = pdf[pdf.archive == 1].set_index("slot")
    # archive 0 sees its two points at slots 2,3
    assert {(int(r.timestamp), r.value) for r in a0.itertuples()} == {
        (2000, 9.0), (2010, 8.0)
    }
    # archive 1 reads the SAME bytes as its slots 0,1 — byte-window
    # semantics, no error, no phantom rows beyond its declared 4 slots
    assert {(int(r.timestamp), r.value) for r in a1.itertuples()} == {
        (2000, 9.0), (2010, 8.0)
    }


def test_gzip_decompressed_size_mismatch(spark, tmp_path):
    """A .wsp.gz whose DECOMPRESSED size is short of the header's implied
    size: header parsing succeeds, file_size_mismatch is exposed (not
    enforced, whisper_pandas.py:142-145), intact archives still scan, and
    the archive extending past EOF fails with the clean truncation error."""
    import gzip as _gzip

    import pytest as _pytest

    from whisper_pandas_spark.sources.format import (
        read_file_bytes,
        read_header,
        read_points,
    )
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    plain = tmp_path / "sz.wsp"
    header = 16 + 2 * 12
    # arch0: 4 slots right after header; arch1: 6 slots after arch0
    _raw_wsp(
        str(plain),
        [(header, 10, 4), (header + 12 * 4, 60, 6)],
        {0: [(0, 3000, 1.0)], 1: [(0, 3600, 2.0)]},
    )
    raw = plain.read_bytes()
    cut = raw[: header + 12 * 4 + 12 * 2]  # arch1 loses its last 4 slots
    gz = tmp_path / "sz_cut.wsp.gz"
    gz.write_bytes(_gzip.compress(cut))

    info = read_header(str(gz))
    assert info.compression == "gzip"
    assert info.file_size_mismatch  # declared > actual — flagged, tolerated
    buf = read_file_bytes(str(gz))
    # intact archive decodes fine
    pts = read_points(buf, info.archives[0])
    assert int(pts["timestamp"][0]) == 3000
    # the truncated archive's full-slot read reports truncation cleanly
    with _pytest.raises(ValueError, match="truncated"):
        read_points(buf, info.archives[1])
    # the Spark scan of the intact archive (archive pruning) still works
    rows = (
        spark.read.format("whisper")
        .option("to_datetime", "false")
        .load(str(gz))
        .filter("archive = 0")
        .collect()
    )
    assert {(r.timestamp, r.value) for r in rows} == {(3000, 1.0)}


def test_on_error_skip_tolerates_corrupt_files(spark, tmp_path):
    """A million-file tree must survive half-written members: with
    on_error=skip a garbage-header file and a data-truncated file are
    dropped (plan time / scan time respectively) while every healthy
    file still decodes fully; the default mode still fails fast."""
    import pytest as _pytest

    from wsp_fixtures import build_wsp

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    d.mkdir()
    golden = build_wsp(str(d / "good.wsp"), archives=[(10, 64, 1.0)])
    # header garbage: not even a parseable archive count
    (d / "badheader.wsp").write_bytes(b"\x00\x01")
    # valid header, data section cut mid-archive
    build_wsp(str(d / "cut.wsp"), archives=[(10, 64, 1.0)], truncate_to=100)

    skipped = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("to_datetime", "false")
        .load(str(d))
    )
    rows = skipped.collect()
    metrics = {r.metric for r in rows}
    assert metrics == {"good"}  # both bad files dropped, good intact
    assert len([r for r in rows]) == len(golden[0].filled)

    with _pytest.raises(Exception):
        spark.read.format("whisper").load(str(d)).collect()

    with _pytest.raises(Exception):
        spark.read.format("whisper").option("on_error", "bogus").load(
            str(d)
        ).collect()


def test_on_error_skip_mixed_tree_chunked_and_adaptive(spark, tmp_path):
    """The 48-file scale scenario in miniature: a tree with one healthy
    member, one data-truncated member (half-written copy), and one
    garbage-header member. With explicit chunking, the truncated file's
    chunks BELOW the cut still decode (scan-time skip is per-partition);
    with the adaptive splitter its single chunk drops whole. The healthy
    file is byte-complete in every case and the garbage header never
    reaches an executor (plan-time drop)."""
    from wsp_fixtures import build_wsp

    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    d.mkdir()
    good = build_wsp(str(d / "good.wsp"), archives=[(10, 5000, 1.0)])
    # header = 16 + 12 = 28 bytes; cut the data section at slot 2500
    build_wsp(
        str(d / "cut.wsp"),
        archives=[(10, 5000, 1.0)],
        truncate_to=28 + 12 * 2500,
    )
    (d / "garbage.wsp").write_bytes(b"\x00\x01junk")

    # explicit 1000-slot chunks: slots [0,2000) of cut.wsp are intact
    # chunks and decode; [2000,3000) reads short and is skipped; good.wsp
    # is untouched by its neighbor's corruption
    df = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("chunk_points", "1000")
        .option("to_datetime", "false")
        .load(str(d))
    )
    counts = {
        r["metric"]: r["count"] for r in df.groupBy("metric").count().collect()
    }
    assert counts == {"good": len(good[0].filled), "cut": 2000}

    # adaptive splitter (no chunk_points): this tiny tree sizes to one
    # chunk per archive, so the truncated member drops whole — counts are
    # exactly clean-tree-minus-bad-files
    df2 = (
        spark.read.format("whisper")
        .option("on_error", "skip")
        .option("to_datetime", "false")
        .load(str(d))
    )
    counts2 = {
        r["metric"]: r["count"] for r in df2.groupBy("metric").count().collect()
    }
    assert counts2 == {"good": len(good[0].filled)}


def test_u32_timestamp_boundaries_roundtrip(spark, tmp_path):
    """SURVEY §1.3's non-limitation claim, pinned: the reference documents
    a 2038 int32 downcast caveat (whisper_pandas.py:217-221 casts the u32
    timestamps to datetime64 via int32); this engine decodes ``>u4`` ->
    int64 end to end, so timestamps past 2^31 (2038) and right up to the
    format's own ceiling 2^32-1 (2106) survive the write -> scan round
    trip exactly.  One file per boundary: the two ranges are ~2.1e9 s
    apart, far beyond any single ring's retention."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    step = 10
    base38 = (2**31 // step) * step  # 2147483640 < 2^31 < base38 + step
    cases = {
        # straddle 2^31: the int32-downcast failure point (2038-01-19).
        # All points step-aligned — the writer buckets to the step grid.
        "epoch2038": [base38 - 2 * step, base38 - step, base38,
                      base38 + step],
        # top of the u32 range (2106-02-07): 2^32 - 6 is the largest
        # 10-aligned u32... (2^32 = 4294967296; last multiple of 10 below
        # is 4294967290)
        "epoch2106": [(2**32 - 1) // step * step - k * step
                      for k in range(3, -1, -1)],
    }
    for name, ts_list in cases.items():
        rows = [(f"b.{name}", int(t), float(i)) for i, t in enumerate(ts_list)]
        df = spark.createDataFrame(rows, ["metric", "epoch", "value"]).select(
            "metric", F.timestamp_seconds("epoch").alias("timestamp"), "value"
        )
        out = str(tmp_path / name)
        write_whisper(df, out, archives=f"{step}:50", aggregation="average")

        # scan as LONG epochs: exact integer compare, no datetime layer
        got = {
            (r["metric"], r["timestamp"]): r["value"]
            for r in spark.read.format("whisper")
            .option("base_dir", out)
            .option("to_datetime", "false")
            .load(out)
            .collect()
        }
        for i, t in enumerate(ts_list):
            assert got[(f"b.{name}", t)] == float(i), (name, t)
        assert all(t > 2**31 - 3 * step for (_m, t) in got), name

        # and as TIMESTAMPs: the datetime layer must place them in the
        # right century (the downcast failure mode wraps 2106 -> 1970s)
        ts_vals = sorted(
            int(r["timestamp"].replace(tzinfo=__import__("datetime").timezone.utc)
                .timestamp())
            for r in spark.read.format("whisper")
            .option("base_dir", out)
            .load(out)
            .collect()
        )
        assert ts_vals == sorted(int(t) for t in ts_list), name
