"""The md5 hash family: its three forms agree, and ``functions/hashing.py``
is the only module that turns an md5 into an integer."""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import (
    duck_md5_int,
    md5_int,
    py_md5_int,
)

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "whisper_pandas_spark"

# ASCII, non-ASCII UTF-8 (2-, 3- and 4-byte sequences), empty, NULL
_INPUTS = ["hello", "naïve café ✓ 😀", "", None]


@pytest.mark.parametrize("n", [1, 7, 8, 15])
def test_forms_agree(spark, n):
    rows = list(enumerate(_INPUTS))
    df = spark.createDataFrame(rows, "i int, s string")
    got = {r["i"]: r["h"] for r in df.select("i", md5_int(F.col("s"), n).alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(f"SELECT i, {duck_md5_int('s', n)} FROM t").fetchall())
    py = {i: None if s is None else py_md5_int(s, n) for i, s in rows}
    assert got == duck == py
    assert got[len(rows) - 1] is None
    assert all(0 <= v < 16**n for v in py.values() if v is not None)
    assert py_md5_int("hello", 15) == 419982666956583591


def _is_md5_call(node: ast.AST) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Attribute) and f.attr == "md5") or (
        isinstance(f, ast.Name) and f.id == "md5"
    )


def _is_int_conversion(call: ast.Call) -> bool:
    """``conv(...)``, ``int(...)`` or ``int.from_bytes(...)``."""
    f = call.func
    if isinstance(f, ast.Name):
        return f.id in ("conv", "int")
    return isinstance(f, ast.Attribute) and (
        f.attr == "conv"
        or (f.attr == "from_bytes" and isinstance(f.value, ast.Name) and f.value.id == "int")
    )


def md5_int_sites(tree: ast.AST) -> set[int]:
    """Line numbers of integer conversions over an md5: the md5 call sits
    inside the conversion's arguments, or inside the value of a name the
    enclosing function assigned and the arguments read."""
    sites = set()
    funcs = [n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    for scope in (tree, *funcs):
        tainted = set()
        if scope is not tree:
            for node in ast.walk(scope):
                if isinstance(node, ast.Assign) and any(map(_is_md5_call, ast.walk(node.value))):
                    tainted.update(t.id for t in node.targets if isinstance(t, ast.Name))
        for node in ast.walk(scope):
            if not (isinstance(node, ast.Call) and _is_int_conversion(node)):
                continue
            for sub in (s for a in node.args for s in ast.walk(a)):
                if _is_md5_call(sub) or (isinstance(sub, ast.Name) and sub.id in tainted):
                    sites.add(node.lineno)
                    break
    return sites


def test_md5_to_int_only_in_hashing():
    """Every md5 → integer conversion in the package goes through
    functions/hashing.py, so the format is written down once per form."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "functions" / "hashing.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        sites += [f"{path.relative_to(REPO)}:{ln}" for ln in sorted(md5_int_sites(tree))]
    assert not sites, f"{len(sites)} md5 -> int conversions: {sites}"


def test_guard_catches_each_form():
    """The guard sees a Spark conv, a direct int(), int.from_bytes and an
    int() over a name bound to an md5 digest."""
    src = '''
def a(s):
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
def b(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
def c(s):
    return int.from_bytes(hashlib.md5(s).digest()[:4], "big")
def d(s):
    h = hashlib.md5(s).hexdigest()
    return int(h[0], 16)
def e(s):
    h = hashlib.md5(s).hexdigest()
    return len(h), int(s)
'''
    assert md5_int_sites(ast.parse(src)) == {3, 5, 7, 10}
