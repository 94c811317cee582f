"""Seeded benchmark inputs, built before any timing starts.

Every input is a pure function of ``(kind, seed, size)`` and is cached on
disk under ``perfbench/.work/inputs/<kind>-<size>-<seed>/``; a build for a
new seed evicts the other seeds of the same kind and size, so the cache
holds one input set of each.

- :func:`whisper_tree` - reference-geometry ``.wsp`` files written with
  ``tests/wsp_fixtures.build_wsp`` (the repository's own fixture writer).
- :func:`ingest_points` - a dotted Graphite hierarchy of metrics with
  12 hours of 10 s points each, plus the per-archive expectation a Graphite
  writer should store for them.
- :func:`oracle_results` - the DuckDB oracle results of the sf0.1
  registry entries over the tables in ``perfbench/data/sf0.1/``, which do
  not depend on the seed.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
INPUTS = WORK / "inputs"
#: per-run output (temporary files, written Whisper trees), wiped by each run
RUN = WORK / "run"

#: The reference's golden-fixture geometry: (seconds_per_point, points,
#: fill ratio); 82.8 MB per file.
REFERENCE_GEOMETRY = [(10, 1_555_200, 1.0), (60, 5_256_000, 0.44349),
                      (3600, 87_601, 0.44353)]
#: A Graphite-style storage schema: 1 day at 10 s, 7 days at 1 min,
#: 1 year at 1 h; 329,812 B per file.
INGEST_SCHEMA = "10:8640,60:10080,3600:8760"
#: Epoch second the generated series end on (hour aligned).
END_TS = 1_700_000_000 // 3600 * 3600

SIZES = {
    # whisper_scan: files per tree and the geometry scale factor
    "scan": {"full": (2, 1.0), "tiny": (2, 0.002)},
    # whisper_ingest_fetch: metrics written, hours of 10 s points each
    "ingest": {"full": (200, 12), "tiny": (6, 2)},
}


def _cached(kind: str, seed: int, size: str, build, key: str = "") -> Path:
    """Return the input directory for (kind, seed, size), building it on a
    miss or when it was built for another *key* or by another version of
    this file. A build first evicts the other seeds of the same kind and
    size."""
    key = hashlib.sha256(Path(__file__).read_bytes()).hexdigest() + key
    INPUTS.mkdir(parents=True, exist_ok=True)
    out = INPUTS / f"{kind}-{size}-{seed}"
    done = out / "DONE"
    if done.exists() and done.read_text() == key:
        return out
    for d in INPUTS.glob(f"{kind}-{size}-*"):
        shutil.rmtree(d, ignore_errors=True)
    tmp = INPUTS / f".{kind}-{size}-{seed}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp, np.random.default_rng(seed))
    (tmp / "DONE").write_text(key)
    tmp.rename(out)
    return out


# ---------------------------------------------------------------- whisper


def whisper_tree(seed: int, size: str = "full") -> Path:
    """A tree of reference-geometry files under ``<dir>/tree/``, and
    ``<dir>/expected.npz`` with, per file, the filled-point count of each
    archive and the 10 s -> 60 s -> 3600 s rollup of its finest archive,
    computed in numpy from the generator's arrays."""
    n_files, scale = SIZES["scan"][size]
    geometry = [(spp, max(16, int(pts * scale)), fill)
                for spp, pts, fill in REFERENCE_GEOMETRY]

    def build(out: Path, rng: np.random.Generator) -> None:
        import sys

        sys.path.insert(0, str(ROOT / "tests"))
        from wsp_fixtures import build_wsp

        expected = {}
        for i in range(n_files):
            metric = f"servers.host{i:02d}.cpu"
            path = out / "tree" / (metric.replace(".", "/") + ".wsp")
            path.parent.mkdir(parents=True, exist_ok=True)
            archives = build_wsp(str(path), archives=geometry,
                                 seed=int(rng.integers(2**31)))
            expected[f"{metric}|counts"] = np.array([len(a.filled) for a in archives])
            fine = archives[0].filled
            ts, vals = np_rollup(fine[:, 0].astype("int64"), fine[:, 1], 60, 10, 0.5)
            ts, vals = np_rollup(ts, vals, 3600, 60, 0.5)
            expected[f"{metric}|rollup"] = np.column_stack([ts, vals])
        np.savez(out / "expected.npz", **expected)

    return _cached("scan", seed, size, build)


def np_rollup(ts: np.ndarray, vals: np.ndarray, res: int, fine: int,
              xff: float) -> tuple[np.ndarray, np.ndarray]:
    """Whisper ``average`` rollup of (ts, vals) to *res* seconds: bucket
    means, dropping buckets whose fill (points / (res // fine)) is below
    *xff*."""
    buckets, inv = np.unique(ts - ts % res, return_inverse=True)
    counts = np.bincount(inv)
    means = np.bincount(inv, weights=vals) / counts
    keep = counts / (res // fine) >= xff
    return buckets[keep], means[keep]


@dataclass
class IngestPoints:
    """Generated points for the ingest workload."""

    metrics: list[str]
    ts: np.ndarray       # (n_points,) shared epoch grid, 10 s apart
    values: np.ndarray   # (n_metrics, n_points)
    #: the same points as rows (metric, timestamp, value), for Spark to read
    parquet: Path


def ingest_points(seed: int, size: str = "full") -> IngestPoints:
    """``n_metrics`` metrics in a dotted hierarchy, each with one point per
    10 s over the same hour-aligned window that ends at :data:`END_TS`."""
    n_metrics, hours = SIZES["ingest"][size]
    n = hours * 360
    ts = END_TS - 10 * n + 10 * np.arange(n, dtype="int64")

    def build(out: Path, rng: np.random.Generator) -> None:
        # a fixed hierarchy: which metrics share a write task must not
        # change with the seed
        hosts = [f"dc.{dc}.{role}.host{h:02d}" for dc in ("ams", "iad")
                 for role in ("web", "db", "cache", "queue") for h in range(5)]
        stats = ("cpu.user", "cpu.system", "mem.used", "net.rx", "net.tx")
        metrics = [f"{h}.{s}" for h in hosts for s in stats][:n_metrics]
        level = rng.uniform(1, 100, size=(n_metrics, 1))
        walk = np.cumsum(rng.normal(0, 0.5, size=(n_metrics, n)), axis=1)
        values = np.round(level + walk, 3)
        np.save(out / "values.npy", values)
        (out / "metrics.json").write_text(json.dumps(metrics))
        pq.write_table(pa.table({
            "metric": np.repeat(np.asarray(metrics, dtype=object), n),
            "timestamp": np.tile(ts, n_metrics),
            "value": values.ravel()}), out / "points.parquet")

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _cached("ingest", seed, size, build)
    return IngestPoints(json.loads((d / "metrics.json").read_text()), ts,
                        np.load(d / "values.npy"), d / "points.parquet")


def expected_archives(ts: np.ndarray, values: np.ndarray) -> list[tuple]:
    """What a Graphite writer stores for hour-aligned, gap-free 10 s points
    under :data:`INGEST_SCHEMA` with ``average`` and xff 0.5: the raw points,
    their 60 s means, and the 3600 s means of those 60 s means.
    Returns ``[(ts, values), ...]`` per archive, values shaped
    ``(n_metrics, n_buckets)``."""
    assert ts[0] % 3600 == 0 and len(ts) % 360 == 0
    m60 = values.reshape(values.shape[0], -1, 6).mean(axis=2)
    m3600 = m60.reshape(values.shape[0], -1, 60).mean(axis=2)
    return [(ts, values), (ts[::6], m60), (ts[::360], m3600)]


# ---------------------------------------------------------------- tables

#: A copy of the tables the sf0.1 registry entries read, from the project's
#: sf0.1 test data (TESTDATA.md: deterministic, seed 42).
SF_DIR = HERE / "data" / "sf0.1"


def oracle_results(oracles: dict[str, str]) -> Path:
    """Directory with ``<name>.pkl``: the DuckDB result of each of *oracles*
    (name -> SQL over the tables in :data:`SF_DIR`). The data does not
    depend on the seed, so one set is kept, rebuilt when the SQL or the
    data changes."""
    import duckdb

    files = sorted(SF_DIR.glob("*.parquet"))
    h = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode())
    for f in files:
        h.update(f.read_bytes())

    def build(out: Path, rng: np.random.Generator) -> None:
        with duckdb.connect() as con:
            for f in files:
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
            for name, sql in oracles.items():
                con.execute(sql).fetchdf().to_pickle(out / f"{name}.pkl")

    return _cached("oracles", 0, "sf0.1", build, key=h.hexdigest())


def input_bytes(path: Path) -> int:
    """Total size of the regular files under *path*."""
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def env_paths() -> dict[str, str]:
    """Environment entries that keep every temporary file of the run (the
    JVM's, Spark's and the Python workers') inside ``.work/``."""
    tmp = RUN / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return {"TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(tmp)}

