"""Scratch storage and stream replays: ``entries.py`` is the only place a
registry entry makes a scratch directory or replays a stream, and
``registry.reset_result_caches`` removes every directory an entry made."""

from __future__ import annotations

import ast
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "whisper_pandas_spark"

_TEMP_CALLS = ("mkdtemp", "gettempdir")
_DIR_MAKERS = {
    *_TEMP_CALLS, "scratch_dir", "scratch_once", "replay", "change_stream"
}


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(node: ast.AST) -> set[str]:
    return {
        _name(n.func) for n in ast.walk(node) if isinstance(n, ast.Call)
    } - {None}


def _dir_caches(tree: ast.Module) -> set[int]:
    """Lines of the module-level dicts and sets handed to ``register_cache``
    whose values are directories: one is filled in a function that makes
    a directory, or its clearer removes a tree."""
    containers = {}
    for stmt in tree.body:
        target = value = None
        if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
            target, value = stmt.targets[0], stmt.value
        elif isinstance(stmt, ast.AnnAssign):
            target, value = stmt.target, stmt.value
        if isinstance(target, ast.Name) and (
            isinstance(value, (ast.Dict, ast.Set))
            or (
                isinstance(value, ast.Call) and _name(value.func) in ("dict", "set")
            )
        ):
            containers[target.id] = stmt.lineno

    def names(node: ast.AST) -> set[str]:
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    registered: dict[str, bool] = {}  # name -> its clearer removes a tree
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _name(node.func) == "register_cache":
            for arg in node.args:
                for n in names(arg) & containers.keys():
                    registered[n] = registered.get(n, False)
    for fn in funcs:
        if any(_name(d) == "register_cache" for d in fn.decorator_list):
            for n in names(fn) & containers.keys():
                registered[n] = registered.get(n, False) or "rmtree" in _calls(fn)

    def filled(fn: ast.FunctionDef) -> set[str]:
        out = set()
        for n in ast.walk(fn):
            if isinstance(n, ast.Assign):
                out |= {
                    t.value.id
                    for t in n.targets
                    if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
                }
            elif (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("add", "setdefault", "update")
                and isinstance(n.func.value, ast.Name)
            ):
                out.add(n.func.value.id)
        return out

    dir_valued = {
        n for fn in funcs if _calls(fn) & _DIR_MAKERS for n in filled(fn)
    }
    return {
        containers[n]
        for n, rmtree in registered.items()
        if rmtree or n in dir_valued
    }


def scratch_sites(tree: ast.Module) -> set[tuple[str, int]]:
    """``(kind, line)`` of every ``mkdtemp``/``gettempdir`` call, every
    ``"maxFilesPerTrigger"`` option, every ``.writeStream`` and every
    module-level directory cache."""
    sites = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            name = _name(node.func)
            if name in _TEMP_CALLS:
                sites.add((name, node.lineno))
            elif (
                name == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "maxFilesPerTrigger"
            ):
                sites.add(("maxFilesPerTrigger", node.lineno))
        elif isinstance(node, ast.Attribute) and node.attr == "writeStream":
            sites.add(("writeStream", node.lineno))
    return sites | {("dir_cache", line) for line in _dir_caches(tree)}


def test_scratch_and_replays_only_in_entries():
    """No ``queries_*`` module makes a temp directory, keeps a directory
    cache, opens a rate-limited file stream or starts a stream writer:
    ``entries.py`` owns all four."""
    stray = []
    for path in sorted(PKG.glob("queries_*.py")):
        tree = ast.parse(path.read_text(), str(path))
        stray += [
            f"{path.relative_to(REPO)}:{line} {kind}"
            for kind, line in sorted(scratch_sites(tree))
        ]
    assert not stray, f"{len(stray)} scratch/replay sites: {stray}"


def test_guard_catches_each_shape():
    src = '''
import shutil, tempfile
from whisper_pandas_spark.entries import register_cache, scratch_dir
_DONE: set[str] = set()
register_cache(_DONE.clear)
_DIRS: dict[str, str] = {}
_TREES = {}
_FRAMES: dict[str, object] = {}
register_cache(_FRAMES.clear)
def a(sf):
    if sf not in _DONE:
        tempfile.mkdtemp(prefix="x_")
        _DONE.add(sf)
def b(sf):
    _DIRS[sf] = scratch_dir("x_")
register_cache(lambda: _DIRS.clear())
@register_cache
def c():
    for d in _TREES.values():
        shutil.rmtree(d)
def d(spark, df):
    out = tempfile.gettempdir()
    sdf = spark.readStream.option("maxFilesPerTrigger", 1).parquet(out)
    return sdf.writeStream.format("memory").start()
def e(sf, df):
    _FRAMES[sf] = df
'''
    assert scratch_sites(ast.parse(src)) == {
        ("dir_cache", 4),
        ("dir_cache", 6),
        ("dir_cache", 7),
        ("mkdtemp", 12),
        ("gettempdir", 22),
        ("maxFilesPerTrigger", 23),
        ("writeStream", 24),
    }


# -- every directory an entry makes is gone after a reset ---------------------


@pytest.mark.parametrize(
    "name",
    [
        "stream_kmv_replay",  # one-pass replay
        "stream_bloom_replay",  # two-pass replay
        "stream_ewma_replay",  # memory drain
        "layout_partition_prune",  # directory built once per sf_dir
        "merge_change_feed",  # directory per call
        "ingest_jsonl_roundtrip",  # formerly a fixed path in the temp dir
    ],
)
def test_reset_removes_every_scratch_dir(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    from whisper_pandas_spark.registry import QUERIES, reset_result_caches

    reset_result_caches()  # no directory built by an earlier test is reused
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert QUERIES[name](spark, sf_dir).collect()
    assert any(tmp_path.iterdir())
    reset_result_caches()
    assert sorted(p.name for p in tmp_path.iterdir()) == []
