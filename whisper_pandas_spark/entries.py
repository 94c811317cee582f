"""The entry tables every ``queries_<domain>`` module registers into.

A leaf: it imports no domain module, so any domain module can be imported
first, on its own, in a fresh interpreter. :mod:`whisper_pandas_spark.registry`
re-exports these names and imports the domain modules.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

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
