"""The entry tables every ``queries_<domain>`` module registers into, and
the one place an entry gets scratch storage or replays a stream.

A leaf: it imports no domain module, so any domain module can be imported
first, on its own, in a fresh interpreter. :mod:`whisper_pandas_spark.registry`
re-exports these names and imports the domain modules.

Scratch: :func:`scratch_dir` makes a directory and :func:`scratch_once`
builds one once per process per ``sf_dir``; the next
``registry.reset_result_caches`` removes every such directory. Streams:
:func:`change_stream` turns frames into a file stream,
:func:`replay` drives one through a maintainer and :func:`drain_to_memory`
runs a streaming result into a memory table.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from whisper_pandas_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
CACHE_CLEARERS: list[Callable[[], None]] = []


def register(
    name: str, oracle: str | None = None
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable[[SparkSession, str], DataFrame]]:
    """Decorator registering a query (and optionally its DuckDB oracle)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def register_cache(clear: Callable[[], None]) -> Callable[[], None]:
    """Register the clear function of a per-process result cache;
    ``registry.reset_result_caches`` runs every registered one."""
    CACHE_CLEARERS.append(clear)
    return clear


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table of ``sf_dir`` (see ``sources.tables.load_table``)."""
    return load_table(spark, name, sf_dir)


_SCRATCH: list[str] = []
_BUILT: dict[tuple[str, str], str] = {}


@register_cache
def _drop_scratch() -> None:
    _BUILT.clear()
    while _SCRATCH:
        shutil.rmtree(_SCRATCH.pop(), ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the temp dir, removed by the next
    ``registry.reset_result_caches``."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


def scratch_once(prefix: str, sf_dir: str, build: Callable[[str], object]) -> str:
    """The scratch directory ``build(d)`` fills for ``sf_dir``, built once
    per process (until the next reset) and shared by every later call
    with the same ``(prefix, sf_dir)``."""
    key = (prefix, sf_dir)
    if key not in _BUILT:
        d = scratch_dir(prefix)
        build(d)
        _BUILT[key] = d
    return _BUILT[key]


def change_stream(spark: SparkSession, frames: Sequence[DataFrame]) -> DataFrame:
    """``frames`` as a file stream of one micro-batch per frame, in order:
    each frame lands as one file under a scratch ``changes/f<i>`` and the
    stream reads one file per trigger."""
    d = scratch_dir("wps_changes_")
    for i, frame in enumerate(frames):
        frame.coalesce(1).write.parquet(f"{d}/changes/f{i}")
    return (
        spark.readStream.schema(frames[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/changes/*")
    )


def replay(
    spark: SparkSession,
    frames: Sequence[DataFrame],
    start: Callable[[DataFrame, str, str], StreamingQuery],
    passes: int = 1,
) -> str:
    """Replay ``frames`` through a maintainer and return the scratch
    directory it kept its state in. Each pass starts
    ``start(sdf, d, checkpoint)`` over :func:`change_stream` under a fresh
    checkpoint, drains it and stops it; a second pass reprocesses the
    whole stream, which leaves an idempotent maintainer's state as it
    was."""
    sdf = change_stream(spark, frames)
    d = scratch_dir("wps_replay_")
    for p in range(passes):
        q = start(sdf, d, f"{d}/ckpt{p}")
        q.processAllAvailable()
        q.stop()
    return d


def drain_to_memory(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run the streaming ``df`` over everything available into the memory
    table ``name`` (output mode ``mode``) and return that table."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", scratch_dir("wps_drain_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    return df.sparkSession.table(name)
