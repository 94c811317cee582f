"""Copy-on-write MERGE (operators/merge.py) and funnel analysis
(operators/funnel.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.funnel import funnel_counts, funnel_steps
from whisper_pandas_spark.operators.merge import (
    _MANIFEST,
    _commit_version,
    current_version_path,
    merge_changes,
    merge_into_parquet,
    vacuum_partitioned,
    vacuum_versions,
)


# -- merge -----------------------------------------------------------------


@pytest.fixture()
def table(spark):
    return spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, s string, v long"
    )


def test_merge_changes_update_insert_delete(spark, table):
    changes = spark.createDataFrame(
        [(2, "B", 200, False), (4, "d", 40, False), (3, None, 0, True)],
        "id long, s string, v long, is_delete boolean",
    )
    got = {
        r["id"]: (r["s"], r["v"])
        for r in merge_changes(table, changes, "id", "is_delete").collect()
    }
    assert got == {1: ("a", 10), 2: ("B", 200), 4: ("d", 40)}  # 3 deleted
    # without a delete column every change row upserts
    up_only = changes.drop("is_delete")
    got2 = {r["id"] for r in merge_changes(table, up_only, "id").collect()}
    assert got2 == {1, 2, 3, 4}


def test_merge_into_parquet_versions_and_pointer(spark, table, tmp_path):
    base = str(tmp_path / "tbl")
    v0 = merge_into_parquet(spark, base, table, "id")
    assert v0.endswith("v0") and current_version_path(base) == v0
    changes = spark.createDataFrame(
        [(1, "A", 100, False), (3, None, 0, True), (9, "z", 90, False)],
        "id long, s string, v long, is_delete boolean",
    )
    v1 = merge_into_parquet(spark, base, changes, "id", "is_delete")
    assert v1.endswith("v1") and current_version_path(base) == v1
    live = {
        r["id"]: (r["s"], r["v"])
        for r in spark.read.parquet(current_version_path(base)).collect()
    }
    assert live == {1: ("A", 100), 2: ("b", 20), 9: ("z", 90)}
    # old version untouched (time travel / rollback)
    old = {r["id"] for r in spark.read.parquet(v0).collect()}
    assert old == {1, 2, 3}


def test_merge_crash_before_flip_leaves_old_version_live(spark, table, tmp_path):
    import pathlib

    base = str(tmp_path / "tbl")
    v0 = merge_into_parquet(spark, base, table, "id")
    # simulate a crashed writer: a half-written v1 with NO pointer flip
    (pathlib.Path(base) / "v1").mkdir()
    (pathlib.Path(base) / "v1" / "part-garbage.parquet").write_bytes(b"torn")
    assert current_version_path(base) == v0  # readers still see v0
    # the torn v1 was never live: the next merge numbers past it instead
    # of failing on it, and builds on v0
    changes = spark.createDataFrame([(2, "B", 200)], "id long, s string, v long")
    v2 = merge_into_parquet(spark, base, changes, "id")
    assert v2.endswith("v2") and current_version_path(base) == v2
    live = {r["id"]: (r["s"], r["v"]) for r in spark.read.parquet(v2).collect()}
    assert live == {1: ("a", 10), 2: ("B", 200), 3: ("c", 30)}


def _fill_version(n):
    """A ``_commit_version`` writer for a minimal partitioned version:
    a directory holding a manifest that points at itself."""

    def fill(d):
        d.mkdir()
        (d / _MANIFEST).write_text(json.dumps({"p": f"v{n}"}))

    return fill


def _tear(d):
    """What a crashed writer leaves: a version directory with no manifest
    and no commit marker."""
    d.mkdir()
    (d / "part-garbage.parquet").write_bytes(b"torn")


@pytest.mark.parametrize("vacuum", [vacuum_versions, vacuum_partitioned])
def test_vacuum_skips_torn_version_past_live(tmp_path, vacuum):
    """v0..v2 committed with v2 live, and a torn v3 (no manifest) past it,
    as a crashed or still-running writer leaves one. keep_last=2 keeps
    the two newest COMMITTED versions; v3 is neither counted, deleted nor
    read."""
    base = tmp_path / "tbl"
    for n in range(3):
        _commit_version(str(base), _fill_version(n))
    _tear(base / "v3")

    assert vacuum(str(base), keep_last=2) == [str(base / "v0")]
    assert sorted(d.name for d in base.glob("v*")) == ["v1", "v2", "v3"]
    assert current_version_path(str(base)) == str(base / "v2")


@pytest.mark.parametrize("vacuum", [vacuum_versions, vacuum_partitioned])
def test_vacuum_skips_torn_version_below_live(tmp_path, vacuum):
    """v0 committed, a torn v1 from a crashed writer, then v2 committed
    past it and live. keep_last=2 keeps the two COMMITTED versions v0 and
    v2, so time travel still reaches two real versions; v1 is neither
    counted, deleted nor read."""
    base = tmp_path / "tbl"
    _commit_version(str(base), _fill_version(0))
    _tear(base / "v1")
    _commit_version(str(base), _fill_version(2))

    assert current_version_path(str(base)) == str(base / "v2")
    assert vacuum(str(base), keep_last=2) == []
    assert sorted(d.name for d in base.glob("v*")) == ["v0", "v1", "v2"]


# -- funnel ----------------------------------------------------------------


@pytest.fixture()
def journeys(spark):
    rows = [
        # u1 completes in order
        (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
        # u2 clicks before viewing -> click doesn't count; re-click later
        (2, 100, "click"), (2, 150, "view"), (2, 160, "click"),
        # u3 views only
        (3, 50, "view"),
        # u4 purchase first then view -> purchase must NOT match
        (4, 10, "purchase"), (4, 20, "view"), (4, 30, "click"),
        # u5 completes but too slowly for the 100 s window
        (5, 0, "view"), (5, 50, "click"), (5, 500, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, epoch long, event_type string")
    return df.select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_type"
    )


def test_funnel_steps_order_and_window(journeys):
    got = {
        r["user_id"]: tuple(
            None if r[f"step_{k}_ts"] is None else int(r[f"step_{k}_ts"].timestamp())
            for k in (1, 2, 3)
        )
        for r in funnel_steps(
            journeys, "user_id", "ts", "event_type",
            ["view", "click", "purchase"],
        ).collect()
    }
    assert got[1] == (100, 200, 300)
    assert got[2] == (150, 160, None)   # pre-view click ignored
    assert got[3] == (50, None, None)
    assert got[4] == (20, 30, None)     # pre-view purchase never matches
    assert got[5] == (0, 50, 500)       # no window -> slow completion counts


def test_funnel_counts_with_conversion_window(journeys):
    got = [
        (r["step"], r["step_name"], r["users_reached"])
        for r in funnel_counts(
            journeys, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], within_seconds=250,
        ).collect()
    ]
    # u1 (view 100 -> purchase 300) converts inside 250 s; u5's purchase
    # at +500 s falls outside the window
    assert got == [(1, "view", 5), (2, "click", 4), (3, "purchase", 1)]
    with pytest.raises(ValueError):
        funnel_counts(journeys, "user_id", "ts", "event_type", ["view"])


def test_merge_changes_ordered_seq_wins_and_atomic_ties(spark):
    from whisper_pandas_spark.operators.merge import merge_changes_ordered

    table = spark.createDataFrame(
        [(1, "cur", 20, False), (2, None, 30, True)],
        "k long, v string, seq long, del boolean",
    )
    changes = spark.createDataFrame(
        [
            (1, "stale", 10, False),   # lower seq: must NOT regress
            (2, "zombie", 25, False),  # lower than tombstone: stays dead
            (3, "new", 5, False),      # new key lands
        ],
        "k long, v string, seq long, del boolean",
    )
    out = {
        r["k"]: (r["v"], r["seq"], r["del"])
        for r in merge_changes_ordered(table, changes, "k", "seq").collect()
    }
    assert out[1] == ("cur", 20, False)
    assert out[2] == (None, 30, True)  # tombstone retained
    assert out[3] == ("new", 5, False)

    # (key, seq) tie: ONE input row wins atomically (greatest full row),
    # never a column-stitched hybrid
    t2 = spark.createDataFrame([(1, "a", 1, True)], "k long, v string, seq long, del boolean")
    c2 = spark.createDataFrame([(1, "b", 1, False)], "k long, v string, seq long, del boolean")
    row = merge_changes_ordered(t2, c2, "k", "seq").collect()[0]
    assert (row["v"], row["del"]) == ("b", False)  # 'b' > 'a' picks c2's row whole

    import pytest as _pt

    with _pt.raises(ValueError):
        merge_changes_ordered(t2, c2.drop("del"), "k", "seq")


def test_vacuum_versions_keeps_live_and_recent(spark, tmp_path):
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        merge_into_parquet,
        vacuum_versions,
    )

    base = str(tmp_path / "t")
    schema = "k long, v string, seq long, del boolean"
    for i in range(5):
        merge_into_parquet(
            spark, base,
            spark.createDataFrame([(1, f"v{i}", i, False)], schema),
            "k", delete_col="del", seq_col="seq",
        )
    root = Path(base)
    assert len(list(root.glob("v*"))) == 5
    removed = vacuum_versions(base, keep_last=2)
    assert sorted(Path(r).name for r in removed) == ["v0", "v1", "v2"]
    assert sorted(d.name for d in root.glob("v*")) == ["v3", "v4"]
    # live pointer still resolves and reads
    cur = current_version_path(base)
    assert cur.endswith("v4")
    assert spark.read.parquet(cur).count() == 1
    import pytest as _pt

    with _pt.raises(ValueError):
        vacuum_versions(base, keep_last=0)


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """Manifest CoW: a merge writes data ONLY for partitions its batch
    touches; untouched partitions stay served by their old version dirs
    (zero copy); state equals the unpartitioned merge; emptied
    partitions vanish; vacuum never deletes a referenced version."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
        vacuum_partitioned,
    )

    base = str(tmp_path / "t")
    schema = "k long, p string, v string, del boolean"
    init = spark.createDataFrame(
        [(1, "a", "a1", False), (2, "a", "a2", False),
         (3, "b", "b1", False), (4, "c", "c1", False)],
        schema,
    )
    merge_into_parquet_partitioned(spark, base, init, "k", "p", delete_col="del")
    v0 = Path(current_version_path(base))
    assert v0.name == "v0"
    assert {d.name for d in (v0 / "data").glob("p=*")} == {"p=a", "p=b", "p=c"}

    # batch touching only partition a (update k=1, delete k=2)
    c1 = spark.createDataFrame(
        [(1, "a", "a1x", False), (2, "a", None, True)], schema
    )
    merge_into_parquet_partitioned(spark, base, c1, "k", "p", delete_col="del")
    v1 = Path(current_version_path(base))
    # ONLY partition a written in v1; b and c still served from v0
    assert {d.name for d in (v1 / "data").glob("p=*")} == {"p=a"}
    state = read_current_state_partitioned(spark, base, "p", delete_col="del")
    got = {(r["k"], r["p"], r["v"]) for r in state.collect()}
    assert got == {(1, "a", "a1x"), (3, "b", "b1"), (4, "c", "c1")}

    # deleting partition b's only key removes b from the manifest
    c2 = spark.createDataFrame([(3, "b", None, True)], schema)
    merge_into_parquet_partitioned(spark, base, c2, "k", "p", delete_col="del")
    state2 = read_current_state_partitioned(spark, base, "p", delete_col="del")
    assert {r["p"] for r in state2.collect()} == {"a", "c"}

    # vacuum(keep_last=1): v0 is OLD but still referenced (serves c) ->
    # must survive; nothing referenced may vanish
    removed = vacuum_partitioned(base, keep_last=1)
    assert str(v0) not in removed
    state3 = read_current_state_partitioned(spark, base, "p", delete_col="del")
    assert {(r["k"], r["v"]) for r in state3.collect()} == {
        (1, "a1x"), (4, "c1"),
    }

    import pytest as _pt

    bad = spark.createDataFrame([(9, None, "x", False)], schema)
    with _pt.raises(ValueError, match="null p"):
        merge_into_parquet_partitioned(spark, base, bad, "k", "p", delete_col="del")


def test_partitioned_merge_seq_aware_cdc(spark, tmp_path):
    """Sequence-aware partitioned merge: out-of-order batches converge,
    tombstones persist within their partition."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import (
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    base = str(tmp_path / "cdc")
    schema = "k long, p string, v string, seq long, del boolean"
    late = spark.createDataFrame([(1, "a", "old", 1, False)], schema)
    early = spark.createDataFrame(
        [(1, "a", "new", 5, False), (2, "b", "x", 3, False)], schema
    )
    # apply the NEWER batch first, then the stale one
    merge_into_parquet_partitioned(
        spark, base, early, "k", "p", delete_col="del", seq_col="seq"
    )
    merge_into_parquet_partitioned(
        spark, base, late, "k", "p", delete_col="del", seq_col="seq"
    )
    state = read_current_state_partitioned(
        spark, base, "p", delete_col="del", seq_col="seq"
    )
    got = {(r["k"], r["v"]) for r in state.collect()}
    assert got == {(1, "new"), (2, "x")}  # stale batch could not regress


# -- round 7: escaping, schema evolution, bounded driver collect -----------


def test_partitioned_merge_hive_escaped_partition_values(spark, tmp_path):
    """Partition values Spark must Hive-escape on disk (space, '/', '%',
    ':') round-trip through the manifest: a second change batch for the
    same partition still finds its prior data (round-6 advisory — raw
    manifest key vs escaped directory name)."""
    from whisper_pandas_spark.operators.merge import (
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    base = str(tmp_path / "esc")
    ugly = "a/b %c:d"
    init = spark.createDataFrame(
        [(1, ugly, 10, False), (2, "plain", 20, False)],
        "k long, p string, v long, del boolean",
    )
    merge_into_parquet_partitioned(spark, base, init, "k", "p", delete_col="del")
    # second batch touches ONLY the ugly partition; k=1 must survive
    c1 = spark.createDataFrame(
        [(3, ugly, 30, False)], "k long, p string, v long, del boolean"
    )
    merge_into_parquet_partitioned(spark, base, c1, "k", "p", delete_col="del")
    state = {
        (r["k"], r["p"]): r["v"]
        for r in read_current_state_partitioned(
            spark, base, "p", delete_col="del"
        ).collect()
    }
    assert state == {(1, ugly): 10, (2, "plain"): 20, (3, ugly): 30}


def test_merge_changes_schema_evolution_add_only(spark, table):
    from whisper_pandas_spark.operators.merge import merge_changes_ordered

    # changes add a column -> existing rows null-backfilled
    changes = spark.createDataFrame(
        [(2, "B", 200, "new")], "id long, s string, v long, extra string"
    )
    got = {
        r["id"]: (r["s"], r["v"], r["extra"])
        for r in merge_changes(table, changes, "id").collect()
    }
    assert got == {
        1: ("a", 10, None),
        2: ("B", 200, "new"),
        3: ("c", 30, None),
    }
    # dropping a column is rejected
    with pytest.raises(ValueError, match="add-only"):
        merge_changes(table, changes.drop("s"), "id")
    # incompatible type change is rejected
    retyped = spark.createDataFrame([(2, "B", 1.5)], "id long, s string, v double")
    with pytest.raises(ValueError, match="incompatible type"):
        merge_changes(table, retyped, "id")
    # sequence-aware path evolves too
    seq_table = spark.createDataFrame(
        [(1, 1, "a")], "id long, seq long, s string"
    )
    seq_changes = spark.createDataFrame(
        [(2, 2, "b", 9)], "id long, seq long, s string, w long"
    )
    rows = {
        r["id"]: (r["s"], r["w"])
        for r in merge_changes_ordered(
            seq_table, seq_changes, "id", "seq"
        ).collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 9)}


def test_partitioned_merge_schema_evolution_and_time_travel(spark, tmp_path):
    """A schema-evolving batch rewrites only its partition; untouched
    partitions (older versions, old schema) null-backfill the new column
    at read. Time travel to v0 still shows the old schema."""
    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    base = str(tmp_path / "evo")
    init = spark.createDataFrame(
        [(1, "x", 10, False), (2, "y", 20, False)],
        "k long, p string, v long, del boolean",
    )
    v0 = merge_into_parquet_partitioned(spark, base, init, "k", "p", delete_col="del")
    evolved = spark.createDataFrame(
        [(3, "x", 30, "tag3", False)],
        "k long, p string, v long, label string, del boolean",
    )
    merge_into_parquet_partitioned(spark, base, evolved, "k", "p", delete_col="del")
    state = {
        r["k"]: (r["p"], r["v"], r["label"])
        for r in read_current_state_partitioned(
            spark, base, "p", delete_col="del"
        ).collect()
    }
    assert state == {
        1: ("x", 10, None),
        2: ("y", 20, None),
        3: ("x", 30, "tag3"),
    }
    # time travel: v0 data dir still reads with the ORIGINAL schema
    old = spark.read.parquet(f"{v0}/data")
    assert "label" not in old.columns and old.count() == 2
    assert current_version_path(base).endswith("v1")


def test_partitioned_merge_caps_touched_partitions(spark, tmp_path):
    from whisper_pandas_spark.operators.merge import (
        merge_into_parquet_partitioned,
    )

    base = str(tmp_path / "cap")
    many = spark.range(10).select(
        F.col("id").alias("k"),
        F.col("id").cast("string").alias("p"),
        F.lit(1).alias("v"),
    )
    with pytest.raises(ValueError, match="touches > 3"):
        merge_into_parquet_partitioned(
            spark, base, many, "k", "p", max_touched_partitions=3
        )
    # under the cap it succeeds
    merge_into_parquet_partitioned(
        spark, base, many, "k", "p", max_touched_partitions=10
    )


def test_partitioned_merge_evaluates_changes_once(spark, tmp_path):
    """The verdict-6 contract: `changes` is persisted and computed ONCE —
    the partition listing materializes the cache, the merge write reads
    it. An accumulator in the change pipeline counts recomputations."""
    from whisper_pandas_spark.operators.merge import (
        merge_into_parquet_partitioned,
    )

    base = str(tmp_path / "once")
    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        for row in it:
            acc.add(1)
            yield row

    src = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20)], "k long, p string, v long"
    )
    changes = spark.createDataFrame(
        src.rdd.mapPartitions(bump), src.schema
    )
    merge_into_parquet_partitioned(spark, base, changes, "k", "p")
    assert acc.value == 2  # one pass over the 2 rows, not 2-3 passes


def test_compact_current_preserves_state(spark, table, tmp_path):
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        compact_current,
        current_version_path,
        merge_into_parquet,
        read_current_state,
    )

    base = str(tmp_path / "c")
    merge_into_parquet(spark, base, table.repartition(6), "id")
    before = {r["id"]: (r["s"], r["v"]) for r in read_current_state(spark, base).collect()}
    n_before = len(list(Path(current_version_path(base)).glob("*.parquet")))
    assert n_before > 1
    compact_current(spark, base, target_files=1)
    assert current_version_path(base).endswith("v1")
    after = {r["id"]: (r["s"], r["v"]) for r in read_current_state(spark, base).collect()}
    assert after == before
    assert len(list(Path(current_version_path(base)).glob("*.parquet"))) == 1


def test_compact_partitioned_rewrites_only_fragmented(spark, tmp_path):
    """Fragmented partitions compact to one file in a NEW version; tidy
    partitions keep serving from their old version (zero copy); state is
    identical; a no-op compaction writes NO new version."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import (
        _part_dirs,
        _read_manifest,
        compact_partitioned,
        current_version_path,
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    base = str(tmp_path / "p")
    # partition 'frag' arrives as 6 files, 'tidy' as 1
    frag = spark.range(60).select(
        F.col("id").alias("k"), F.lit("frag").alias("p"), (F.col("id") * 2).alias("v")
    ).repartition(6)
    merge_into_parquet_partitioned(spark, base, frag, "k", "p")
    tidy = spark.range(100, 105).select(
        F.col("id").alias("k"), F.lit("tidy").alias("p"), F.lit(0).alias("v")
    ).coalesce(1)
    merge_into_parquet_partitioned(spark, base, tidy, "k", "p")

    before = {
        (r["k"], r["p"]): r["v"]
        for r in read_current_state_partitioned(spark, base, "p").collect()
    }
    new_dir, compacted = compact_partitioned(
        spark, base, "p", max_files_per_partition=2
    )
    assert compacted == ["frag"] and new_dir.endswith("v2")
    man = _read_manifest(current_version_path(base))
    assert man["frag"] == "v2"
    assert man["tidy"] == "v1"  # untouched partition still re-points
    frag_dir = _part_dirs(Path(new_dir) / "data", "p")["frag"]
    assert len(list(Path(frag_dir).glob("*.parquet"))) == 1
    after = {
        (r["k"], r["p"]): r["v"]
        for r in read_current_state_partitioned(spark, base, "p").collect()
    }
    assert after == before
    # already compact: no new version
    none_dir, none_parts = compact_partitioned(
        spark, base, "p", max_files_per_partition=2
    )
    assert none_dir is None and none_parts == []
    assert current_version_path(base).endswith("v2")


def test_change_feed_between_versions(spark, table, tmp_path):
    """CDF read: diffing two retained versions reproduces the applied
    change batch (added/changed/removed), works across non-adjacent
    versions, and raises for vacuumed versions."""
    import pytest
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.merge import (
        change_feed,
        merge_into_parquet,
        vacuum_versions,
    )

    base = str(tmp_path / "cf")
    merge_into_parquet(spark, base, table, "id")  # v0
    c1 = spark.createDataFrame(
        [(2, "B", 200, False), (4, "d", 40, False), (3, None, 0, True)],
        "id long, s string, v long, is_delete boolean",
    )
    merge_into_parquet(spark, base, c1, "id", delete_col="is_delete")  # v1
    c2 = spark.createDataFrame(
        [(4, "D", 44, False)], "id long, s string, v long, is_delete boolean"
    )
    merge_into_parquet(spark, base, c2, "id", delete_col="is_delete")  # v2

    feed01 = {
        r["key"]: r["change"] for r in change_feed(spark, base, 0, 1, "id").collect()
    }
    assert feed01 == {2: "changed", 3: "removed", 4: "added"}
    # non-adjacent: v0 -> v2 folds both batches
    feed02 = {
        r["key"]: r["change"] for r in change_feed(spark, base, 0, 2, "id").collect()
    }
    assert feed02 == {2: "changed", 3: "removed", 4: "added"}
    vacuum_versions(base, keep_last=2)  # drops v0
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        change_feed(spark, base, 0, 2, "id")


def test_change_feed_partitioned_resolves_full_snapshots(spark, tmp_path):
    """Regression (round-8 advisory): on a merge_into_parquet_partitioned
    table a version dir holds ONLY the partitions touched by that merge —
    change_feed must resolve each version to its FULL manifest snapshot,
    or untouched partitions show up as spurious added/removed rows."""
    from whisper_pandas_spark.operators.merge import (
        change_feed,
        merge_into_parquet_partitioned,
    )

    base = str(tmp_path / "cfp")
    schema = "k long, p string, v string, del boolean"
    init = spark.createDataFrame(
        [(1, "a", "a1", False), (2, "b", "b1", False), (3, "c", "c1", False)],
        schema,
    )
    merge_into_parquet_partitioned(spark, base, init, "k", "p", delete_col="del")
    # v1 touches ONLY partition a: update k=1, add k=4
    c1 = spark.createDataFrame(
        [(1, "a", "a1x", False), (4, "a", "a2", False)], schema
    )
    merge_into_parquet_partitioned(spark, base, c1, "k", "p", delete_col="del")
    feed = {
        r["key"]: r["change"]
        for r in change_feed(spark, base, 0, 1, "k").collect()
    }
    # b and c are untouched: NOT in the feed (the partial-snapshot bug
    # reported them as removed)
    assert feed == {1: "changed", 4: "added"}
    # explicit part_col override works too
    feed2 = {
        r["key"]: r["change"]
        for r in change_feed(spark, base, 0, 1, "k", part_col="p").collect()
    }
    assert feed2 == feed
