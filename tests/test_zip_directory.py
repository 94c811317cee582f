"""A zip importer keeps its directory while its archive is unchanged.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task, and CPython 3.11's zip importer answers by re-reading its
whole archive directory; ``whisper_pandas_spark.session`` makes it re-read
only an archive whose ``(st_mtime_ns, st_size)`` changed, or one it cannot
``stat``."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

import whisper_pandas_spark.session  # noqa: F401  (installs the rule)


def _write_zip(archive, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def _count_reads(monkeypatch) -> list[str]:
    """Every ``zipimport._read_directory`` call from now on, by archive."""
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A package ``zdir_pkg`` imported from a zip on ``sys.path``; yields
    the archive's path. Its modules and importer go at teardown."""
    archive = tmp_path / "zdir.zip"
    _write_zip(archive, {"zdir_pkg/__init__.py": "", "zdir_pkg/one.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("zdir_pkg.one").X == 1
    yield str(archive)
    for name in [m for m in sys.modules if m.partition(".")[0] == "zdir_pkg"]:
        del sys.modules[name]
    for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
        del sys.path_importer_cache[path]
    zipimport._zip_directory_cache.pop(str(archive), None)


def test_invalidate_keeps_an_unchanged_zip_directory(zip_package, monkeypatch):
    """N ``invalidate_caches()`` calls read no zip directory (unwrapped,
    each call re-reads every archive on ``sys.path`` once per importer)."""
    reads = _count_reads(monkeypatch)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zdir_pkg.one").X == 1


def test_changed_or_missing_zip_is_reread(zip_package, monkeypatch):
    """A rewritten archive (new size) is re-read, so its new module
    imports; a deleted one takes CPython's own path and drops its
    directory."""
    reads = _count_reads(monkeypatch)
    _write_zip(zip_package, {
        "zdir_pkg/__init__.py": "",
        "zdir_pkg/one.py": "X = 1\n",
        "zdir_pkg/two.py": "Y = 2\n",
    })
    importlib.invalidate_caches()
    assert zip_package in reads
    assert importlib.import_module("zdir_pkg.two").Y == 2

    importer = sys.path_importer_cache[zip_package]
    os.remove(zip_package)
    del reads[:]
    importlib.invalidate_caches()
    assert zip_package in reads
    assert importer._files == {}
    assert zip_package not in zipimport._zip_directory_cache


def test_python_tasks_do_not_reread_zips(spark):
    """Every task after a worker's first reads no zip directory, although
    PySpark invalidates the import caches before each one."""

    def reads_since_last_task(batches):
        # The zip-directory reads this worker made since its previous task,
        # or -1 on the first task that counts in this worker.
        import zipimport

        import whisper_pandas_spark  # noqa: F401

        reads = getattr(zipimport, "_reads_seen", None)
        if reads is None:
            reads = zipimport._reads_seen = [0]
            read = zipimport._read_directory

            def counting(archive):
                reads[0] += 1
                return read(archive)

            zipimport._read_directory = counting
            since = -1
        else:
            since, reads[0] = reads[0], 0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [since]})

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInArrow(reads_since_last_task, "pid long, reads long")
        .collect()
    )
    by_pid: dict[int, list[int]] = {}
    for row in rows:
        by_pid.setdefault(row.pid, []).append(row.reads)
    later = [n for reads in by_pid.values() for n in reads if n != -1]
    assert all(reads.count(-1) == 1 for reads in by_pid.values()), by_pid
    assert later, f"no worker ran a second task: {by_pid}"
    assert later == [0] * len(later), by_pid
