"""Every registry entry module imports on its own.

A fresh interpreter imports one ``queries_*`` module FIRST, then the
registry; the registry must come out whole. This catches domain modules
that pull names from each other while one of them is still loading.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
MODULES = sorted(p.stem for p in (REPO / "whisper_pandas_spark").glob("queries_*.py"))

_PROBE = """
import importlib, json, sys
importlib.import_module("whisper_pandas_spark." + sys.argv[1])
from whisper_pandas_spark import registry
print(json.dumps(sorted(registry.QUERIES)))
"""


@pytest.mark.parametrize("module", MODULES)
def test_module_imports_first_in_fresh_interpreter(module):
    from whisper_pandas_spark import registry

    out = subprocess.run(
        [sys.executable, "-c", _PROBE, module],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == sorted(registry.QUERIES)
