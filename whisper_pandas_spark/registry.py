"""Query registry: the driver-checkable artifact of SURVEY.md §2.

Every implemented operator gets a named entry here:

- ``QUERIES[name]``  — ``(spark, sf_dir) -> DataFrame`` running the operator
  through the engine's own API (DataFrame-first, Catalyst-optimized).
- ``ORACLES[name]``  — the semantically-equivalent ANSI SQL that DuckDB runs
  over the same parquet tables. Omitted only for genuinely
  non-SQL-expressible ops (the driver then records a rows-only check).

Column names are aliased identically on both sides — the driver's compare
sorts columns by name before hashing values.

The entries live in the ``queries_<domain>`` modules listed in ``DOMAINS``;
they register through the leaf :mod:`whisper_pandas_spark.entries`, whose
tables this module re-exports and puts in driver-sweep order.
"""

from __future__ import annotations

import glob
import importlib
import json
import os

from whisper_pandas_spark.entries import (
    CACHE_CLEARERS,
    ORACLES,
    QUERIES,
    register,
    register_cache,
)

__all__ = ["ORACLES", "QUERIES", "register", "register_cache", "reset_result_caches"]

# Import order only breaks ties inside a _reorder bucket.
DOMAINS = (
    "whisper",
    "materialize",
    "similarity",
    "streaming",
    "text",
    "web",
    "multimodal",
    "pipeline",
    "dedup",
    "joins",
    "relational",
    "windows",
    "rollup",
    "timeseries",
    "sketches",
    "graph",
    "ingest",
)


def reset_result_caches() -> None:
    """Drop every per-process result materialization the registry entries
    share (each module registers its caches with ``register_cache``). The
    caches make repeated driver/oracle runs cheap; the BENCH calls this
    before every timed run so a timing always covers the full pipeline,
    never a checkpoint read."""
    for clear in CACHE_CLEARERS:
        clear()
    # Also drop every leaked persistent-RDD block. Eager localCheckpoints
    # cut lineage, but their blocks outlive the query's Python objects
    # until the JVM ContextCleaner eventually notices — across a 39-query
    # bench they pile up into GB of un-evictable cache, and the resulting
    # GC/eviction churn billed multi-second (worst measured: 50 s) stalls
    # to whichever query ran next (round-14 finding; this runs OUTSIDE
    # the timed window, before t0, so timings still cover the full
    # recompute-from-parquet pipeline).
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            # py4j auto-converts the Java map: iterate the view directly
            # (a .iterator() call on the converted view raises — caught
            # and silently skipped in the first cut of this cleanup)
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
    except Exception:
        pass


# Record-derived ordering (used by _reorder below): the driver walks the
# registry in insertion order with a bounded budget (~50 entries per round), so ordering decides
# what gets (re-)recorded:
#
#   1. entries whose LATEST record is non-green (a fix must be re-recorded),
#   2. entries with NO record yet (new this round),
#   3. green entries, oldest record first (refresh stale rows),
#
# stable within each bucket, derived from the CORRECTNESS_r*.json records
# the driver leaves in the repo root. This self-maintains across rounds.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_latest: dict[str, tuple[int, dict]] = {}
for _i, _path in enumerate(
    sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")))
):
    try:
        with open(_path) as _f:
            _data = json.load(_f)
    except (OSError, ValueError):
        continue
    for _name, _rec in _data.items():
        _latest[_name] = (_i, _rec)


def _order_key(name: str) -> tuple[int, int]:
    if name not in _latest:
        return (1, 0)
    rnd, rec = _latest[name]
    if rec.get("hash_match") is True:
        return (2, rnd)
    if rec.get("err") == "no_oracle":
        # a rows-only record is green only while the entry still has no
        # oracle; once an oracle lands the entry must re-record at hash
        # level, so queue it with the never-recorded bucket
        return (2, rnd) if name not in ORACLES else (1, 0)
    return (0, 0)


def _reorder() -> None:
    """Rebuild QUERIES/ORACLES in driver-sweep priority order (in place,
    so every `from registry import QUERIES` alias sees it)."""
    final = sorted(QUERIES, key=_order_key)
    q = {n: QUERIES[n] for n in final}
    QUERIES.clear()
    QUERIES.update(q)
    o = {n: ORACLES[n] for n in final if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


for _domain in DOMAINS:
    importlib.import_module(f"whisper_pandas_spark.queries_{_domain}")

_reorder()
