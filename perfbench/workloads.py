"""The benchmark's workloads.

A workload builds its seeded inputs (:meth:`prepare`, before any timing),
starts its layers on a live session (:meth:`start`, part of set-up) and
yields the operations of one pass (:meth:`ops`). An :class:`Op` is one
timed call into a layer plus an optional check of its output, which the
harness runs outside the timed span. Every op's output is checked in the
warm-up pass; ops that hand their result to the caller are checked on
every pass.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

import check
import inputs

#: Registry entries timed by ``relational_graph``: JVM-only aggregation,
#: a star join and iterative label propagation.
REGISTRY_ENTRIES = (
    "q1_pricing_summary",
    "join_star_q3ish",
    "graph_label_propagation",
)


@dataclass
class Op:
    """One timed layer call. ``run`` returns the output (or None for a
    noop-sink write); ``check`` turns that output into a problem list."""

    span: str
    run: Callable[[], object]
    check: Callable[[object], list[str]] | None = None
    attrs: dict | None = None
    #: False for probes that are traced but not part of a pass's time
    timed: bool = True


def _epoch_s(col: pd.Series) -> np.ndarray:
    return ((col - pd.Timestamp(0)) // pd.Timedelta(seconds=1)).to_numpy("int64")


class WhisperScan:
    """Full decode, rollup cascade and header scan of a tree of
    reference-geometry Whisper files; every pass checks every output."""

    name = "whisper_scan"

    def prepare(self, seed: int, size: str) -> None:
        d = inputs.whisper_tree(seed, size)
        self.path = str(d / "tree")
        self.bytes = inputs.input_bytes(d / "tree")
        exp = np.load(d / "expected.npz")
        self.metrics = sorted({k.split("|")[0] for k in exp.files})
        self.counts = {m: exp[f"{m}|counts"] for m in self.metrics}
        self.rollups = {m: exp[f"{m}|rollup"] for m in self.metrics}

    def start(self, spark) -> None:
        from whisper_pandas_spark.sources.whisper import register_whisper

        register_whisper(spark)
        self.spark = spark

    def _scan(self):
        df = self.spark.read.format("whisper").load(self.path)
        return df.groupBy("metric", "archive").count().collect()

    def _check_scan(self, rows) -> list[str]:
        got = {(r["metric"], r["archive"]): r["count"] for r in rows}
        want = {(m, a): int(c) for m, cs in self.counts.items() for a, c in enumerate(cs)}
        return [] if got == want else [f"scan counts {got} vs {want}"]

    def _rollup(self):
        from pyspark.sql import functions as F

        from whisper_pandas_spark.operators.rollup import rollup

        fine = self.spark.read.format("whisper").load(self.path).filter(F.col("archive") == 0)
        r60 = rollup(fine, 60, "average", 0.5, fine_resolution_seconds=10)
        r3600 = rollup(r60, 3600, "average", 0.5, fine_resolution_seconds=60,
                       ts_col="bucket")
        return r3600.toPandas()

    def _check_rollup(self, pdf: pd.DataFrame) -> list[str]:
        if sorted(pdf["metric"].unique()) != self.metrics:
            return [f"rollup metrics {sorted(pdf['metric'].unique())}"]
        problems = []
        for m, g in pdf.groupby("metric"):
            g = g.sort_values("bucket")
            exp = self.rollups[m]
            problems += check.compare_series(
                f"rollup {m}", _epoch_s(g["bucket"]), g["value"].to_numpy(),
                exp[:, 0].astype("int64"), exp[:, 1])
        return problems

    def _meta(self):
        from whisper_pandas_spark.sources.meta import archive_meta

        return archive_meta(self.spark, self.path).collect()

    def _check_meta(self, rows) -> list[str]:
        want = len(self.metrics) * 3
        return [] if len(rows) == want else [f"archive_meta {len(rows)} rows vs {want}"]

    def ops(self, pass_no: int, traced: bool) -> Iterator[Op]:
        yield Op("sources.whisper.scan", self._scan, self._check_scan, {"bytes": self.bytes})
        yield Op("operators.rollup", self._rollup, self._check_rollup)
        yield Op("sources.meta.archive_meta", self._meta, self._check_meta)


class WhisperIngestFetch:
    """Write a metric hierarchy with ``write_whisper``, then serve a seeded
    closed-loop sequence of Graphite ``fetch`` calls from it, one client.
    The warm-up pass makes one fetch per archive; every pass checks every
    output."""

    name = "whisper_ingest_fetch"
    #: fetches per pass, an equal share per archive
    FETCHES = 12
    #: window span per target archive: 1 h, 2 days, 30 days
    SPANS = (3600, 2 * 86400, 30 * 86400)

    def prepare(self, seed: int, size: str) -> None:
        self.points = inputs.ingest_points(seed, size)
        self.expected = inputs.expected_archives(self.points.ts, self.points.values)
        self.user_bytes = self.points.values.size * 12  # u32 timestamp + f64 value
        schema = [tuple(map(int, a.split(":"))) for a in inputs.INGEST_SCHEMA.split(",")]
        self.retention = [spp * n for spp, n in schema]
        self.slots = [n for _, n in schema]
        self.rng = np.random.default_rng([seed, 1])
        self.root = inputs.RUN / "ingest"

    def start(self, spark) -> None:
        from whisper_pandas_spark.sources.whisper import register_whisper

        register_whisper(spark)
        self.spark = spark
        self.df = spark.read.parquet(str(self.points.parquet))

    def _write(self, out_dir: str):
        from whisper_pandas_spark.sources.whisper_write import write_whisper

        write_whisper(self.df, out_dir, archives=inputs.INGEST_SCHEMA,
                      aggregation="average", x_files_factor=0.5)
        return out_dir

    def _check_write(self, out_dir: str) -> list[str]:
        files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs
                 if f.endswith(".wsp")]
        if len(files) != len(self.points.metrics):
            return [f"write_whisper wrote {len(files)} files"]
        self.stored_bytes = sum(os.path.getsize(f) for f in files)
        return []

    def _fetch(self, path: str, lo: int, hi: int):
        from whisper_pandas_spark.sources.fetch import fetch

        return fetch(self.spark, path, lo, hi).toPandas()

    def _check_fetch(self, m_idx: int, arch: int, lo: int, hi: int):
        def run(pdf: pd.DataFrame) -> list[str]:
            if len(pdf) and set(pdf["archive"]) != {arch}:
                return [f"fetch served archive {sorted(set(pdf['archive']))}, want {arch}"]
            ts, vals = self.expected[arch]
            keep = (ts >= lo) & (ts <= hi)
            pdf = pdf.sort_values("timestamp")
            return check.compare_series(
                f"fetch {self.points.metrics[m_idx]} [{lo}, {hi}]",
                _epoch_s(pdf["timestamp"]), pdf["value"].to_numpy(),
                ts[keep], vals[m_idx][keep])
        return run

    def _select(self, path: str, span: int) -> int:
        from whisper_pandas_spark.sources.fetch import select_archive

        return select_archive(path, span)

    def ops(self, pass_no: int, traced: bool) -> Iterator[Op]:
        metrics = self.points.metrics
        out_dir = str(self.root / f"pass{pass_no}")
        shutil.rmtree(self.root, ignore_errors=True)
        yield Op("sources.whisper_write.write_whisper", lambda: self._write(out_dir),
                 self._check_write)
        ts = self.points.ts
        for kind in self.rng.permutation(np.arange(self.FETCHES if pass_no else 3) % 3):
            span = self.SPANS[kind]
            # the archive Graphite serves: the finest whose retention covers
            # the span
            arch = next(i for i, r in enumerate(self.retention) if r >= span)
            m_idx = int(self.rng.integers(len(metrics)))
            hi = int(self.rng.choice(ts[ts >= ts[0] + 3600]))
            lo = hi - span
            path = os.path.join(out_dir, metrics[m_idx].replace(".", os.sep) + ".wsp")
            if traced:
                yield Op("sources.fetch.select_archive",
                         lambda p=path, s=span: self._select(p, s),
                         lambda got, a=arch: [] if got == a else
                         [f"select_archive {got}, want {a}"], timed=False)
                yield Op("sources.whisper.load",
                         lambda p=path: self.spark.read.format("whisper").load(p),
                         timed=False)
            yield Op("sources.fetch.fetch", lambda p=path, lo=lo, hi=hi: self._fetch(p, lo, hi),
                     self._check_fetch(m_idx, arch, lo, hi),
                     {"archive": arch, "slots": self.slots[arch]})


class RelationalGraph:
    """Registry entries over the project's sf0.1 tables, each to the noop
    sink, in seeded order; outputs checked against the entries' DuckDB
    oracles in the warm-up pass."""

    name = "relational_graph"

    def __init__(self, entries: tuple[str, ...] = REGISTRY_ENTRIES) -> None:
        self.all_entries = entries

    def prepare(self, seed: int, size: str) -> None:
        from whisper_pandas_spark.registry import ORACLES

        # the tables have one size; a tiny run times the first entry only
        entries = self.all_entries if size == "full" else self.all_entries[:1]
        expected = inputs.oracle_results({n: ORACLES[n] for n in entries})
        self.entries = list(np.random.default_rng([seed, 2]).permutation(entries))
        self.expected = {n: pd.read_pickle(expected / f"{n}.pkl") for n in self.entries}

    def start(self, spark) -> None:
        from whisper_pandas_spark.registry import QUERIES

        self.spark = spark
        self.queries = QUERIES

    def _run(self, name: str, collect: bool):
        df = self.queries[name](self.spark, str(inputs.SF_DIR))
        if collect:
            return df.toPandas()
        df.write.format("noop").mode("overwrite").save()
        return None

    def ops(self, pass_no: int, traced: bool) -> Iterator[Op]:
        warm = pass_no == 0
        for name in self.entries:
            yield Op(f"registry.{name}", lambda n=name: self._run(n, warm),
                     (lambda out, n=name: check.compare_frames(out, self.expected[n]))
                     if warm else None)


WORKLOADS = {w.name: w for w in (WhisperScan, WhisperIngestFetch, RelationalGraph)}
