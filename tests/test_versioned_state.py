"""Versioned state tables: ``operators/merge.py`` is the only module that
knows the ``v<N>`` / ``_CURRENT`` / ``_LAST_BATCH`` layout, and
``streaming/sink.py`` the only one that starts a ``foreachBatch`` query.
Also pins the exactly-once marker on a real crash-window replay and the
bottom-k maintainer's NULL ordering against its DuckDB twin."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.merge import current_version_path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "whisper_pandas_spark"

_OWNER = {
    "foreachBatch": PKG / "streaming" / "sink.py",
    "layout": PKG / "operators" / "merge.py",
    "version": PKG / "operators" / "merge.py",
}
_LAYOUT_NAMES = ("_LAST_BATCH", "_CURRENT")


def _docstring_ids(tree: ast.AST) -> set[int]:
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, scopes)
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def layout_sites(tree: ast.AST) -> set[tuple[str, int]]:
    """``(kind, line)`` of every ``.foreachBatch(`` call, every use of the
    ``_LAST_BATCH``/``_CURRENT`` names (as a string outside a docstring,
    a name, an attribute or an import) and every ``.name[1:]`` parse of a
    ``v<N>`` directory name."""
    docs = _docstring_ids(tree)
    sites = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "foreachBatch"
        ):
            sites.add(("foreachBatch", node.lineno))
        elif (
            (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
                and node.value.startswith(_LAYOUT_NAMES)
            )
            or (isinstance(node, ast.Name) and node.id in _LAYOUT_NAMES)
            or (isinstance(node, ast.Attribute) and node.attr in _LAYOUT_NAMES)
        ):
            sites.add(("layout", node.lineno))
        elif isinstance(node, ast.ImportFrom) and any(
            a.name in _LAYOUT_NAMES for a in node.names
        ):
            sites.add(("layout", node.lineno))
        elif (
            isinstance(node, ast.Subscript)
            and isinstance(node.value, ast.Attribute)
            and node.value.attr == "name"
            and isinstance(node.slice, ast.Slice)
            and isinstance(node.slice.lower, ast.Constant)
            and node.slice.lower.value == 1
            and node.slice.upper is None
            and node.slice.step is None
        ):
            sites.add(("version", node.lineno))
    return sites


def test_versioned_layout_only_in_owners():
    """No module but merge.py parses a version name or touches the
    pointer or the batch marker; no module but sink.py calls
    ``foreachBatch``."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        stray += [
            f"{path.relative_to(REPO)}:{line} {kind}"
            for kind, line in sorted(layout_sites(tree))
            if path != _OWNER[kind]
        ]
    assert not stray, f"{len(stray)} versioned-state sites: {stray}"


def test_guard_catches_each_shape():
    src = '''
"""Prose may name _LAST_BATCH and _CURRENT."""
def a(sdf, f):
    return sdf.writeStream.foreachBatch(f).start()
def b(cur):
    return (Path(cur) / "_LAST_BATCH").read_text()
def c(root):
    return root / f"{_CURRENT}.tmp"
def d(cur):
    return int(Path(cur).name[1:]) + 1
from whisper_pandas_spark.operators.merge import _CURRENT
def e(p):
    return p.name[:1], p.name[2:], "CURRENT", merge._LAST_BATCH
'''
    assert layout_sites(ast.parse(src)) == {
        ("foreachBatch", 4),
        ("layout", 6),
        ("layout", 8),
        ("version", 10),
        ("layout", 11),
        ("layout", 13),
    }


# -- crash window: foreachBatch ran, the commit was not recorded -------------

_SCHEMA = (
    "id long, grp string, v long, it string, text string, ts timestamp, "
    "seq long"
)


def _start(kind, sdf, base, ckpt):
    from whisper_pandas_spark.streaming import changepoint, sink, sketches

    return {
        "histogram": lambda: sketches.stream_sketch_update(
            sdf, base, ("grp",), "v", 0.0, 10.0, 10, ckpt
        ),
        "topk": lambda: sketches.stream_topk_update(
            sdf, base, ("grp",), "it", 16, checkpoint_dir=ckpt
        ),
        "cms": lambda: sketches.stream_cms_update(
            sdf, base, ("grp",), "v", depth=2, width=16, checkpoint_dir=ckpt
        ),
        "kn_counts": lambda: sketches.stream_kn_counts_update(
            sdf, base, "id", "text", checkpoint_dir=ckpt
        ),
        "bucket_sums": lambda: changepoint.stream_bucket_sums_update(
            sdf, base, ("grp",), "ts", "v", checkpoint_dir=ckpt
        ),
        "kmv": lambda: sketches.stream_kmv_update(
            sdf, base, ("grp",), "v", k=8, checkpoint_dir=ckpt
        ),
        "cdc_sink": lambda: sink.stream_merge_into_parquet(
            sdf, base, "id", "seq", checkpoint_dir=ckpt
        ),
    }[kind]()


@pytest.mark.parametrize(
    "kind",
    ["histogram", "topk", "cms", "kn_counts", "bucket_sums", "kmv", "cdc_sink"],
)
def test_crash_window_replay_is_applied_once(spark, tmp_path, kind):
    """Deleting ``commits/0`` makes Spark deliver batch 0 again on restart,
    as after a crash between the sink write and the commit. With a
    checkpoint every maintainer applies a batch once: the live version
    stays the same, and so does the state (an additive law would
    otherwise double-count)."""
    rows = [
        (i, f"g{i % 2}", i % 10, f"it{i % 5}", f"w{i % 3} w{i % 4} w{i % 2}",
         f"2024-03-0{i % 3 + 1} 06:00:00", i)
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, _SCHEMA.replace("ts timestamp", "ts string")
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src, base, ckpt = (str(tmp_path / n) for n in ("src", "state", "ckpt"))
    df.coalesce(1).write.parquet(f"{src}/f1")
    sdf = spark.readStream.schema(_SCHEMA).parquet(f"{src}/*")

    def run() -> tuple[str, list[str]]:
        q = _start(kind, sdf, base, ckpt)
        q.processAllAvailable()
        q.stop()
        cur = current_version_path(base)
        return cur, sorted(str(r) for r in spark.read.parquet(cur).collect())

    cur, state = run()
    commits = Path(ckpt) / "commits"
    (commits / "0").unlink()
    (commits / ".0.crc").unlink(missing_ok=True)
    assert run() == (cur, state)


# -- bottom-k NULL ordering ---------------------------------------------------


def test_stream_bottomk_null_id_matches_duckdb_twin(spark, tmp_path, monkeypatch):
    """A NULL id hashes to NULL. The registry oracle ranks it last (DuckDB
    sorts NULLs last), so the maintainer must not keep it in place of a
    real id."""
    import duckdb

    from whisper_pandas_spark import queries_streaming
    from whisper_pandas_spark.streaming.sketches import stream_bottomk_update

    monkeypatch.setattr(queries_streaming, "_BK_K", 3)
    rows = [("en", i) for i in range(1, 21)] + [("en", None)]
    spark.createDataFrame(rows, "grp string, doc_id long").coalesce(1).write.parquet(
        str(tmp_path / "src" / "f1")
    )
    sdf = spark.readStream.schema("grp string, doc_id long").parquet(
        str(tmp_path / "src" / "*")
    )
    base = str(tmp_path / "state")
    q = stream_bottomk_update(
        sdf, base, ("grp",), "doc_id", k=queries_streaming._BK_K,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(current_version_path(base))
        .select("grp", "doc_id", "h")
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (lang VARCHAR, doc_id BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.execute(queries_streaming._bottomk_oracle()).fetchall())
    assert [r[1] for r in want] == [12, 17, 19]
    assert got == want
