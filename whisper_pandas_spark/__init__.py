"""whisper_pandas_spark — a PySpark-native analytics engine with the
capability surface of ``heidelbergcement/whisper-pandas`` (a WhisperDB →
pandas decoder), re-expressed Spark-first and extended with the relational
and LLM-data-pipeline operators a 100 TB training-data platform needs.

Layout
------
- :mod:`whisper_pandas_spark.session`   — SparkSession factory (UTC, AQE, Arrow)
- :mod:`whisper_pandas_spark.sources`   — Whisper Python DataSource, meta API,
  parquet table loaders
- :mod:`whisper_pandas_spark.operators` — rollup family, as-of joins, dedup,
  similarity search, text analysis, multimodal
- :mod:`whisper_pandas_spark.functions` — scalar/column helper expressions
- :mod:`whisper_pandas_spark.plans`     — plan inspection helpers
- :mod:`whisper_pandas_spark.streaming` — Structured Streaming rollups
- :mod:`whisper_pandas_spark.registry`  — the 290 named entries, each with
  its DuckDB oracle SQL; entries register through the leaf
  :mod:`whisper_pandas_spark.entries` from one ``queries_<domain>`` module
  per domain: ``whisper``, ``timeseries``, ``rollup``, ``sketches``,
  ``relational``, ``joins``, ``windows``, ``dedup``, ``similarity``,
  ``text``, ``web``, ``graph``, ``ingest``, ``materialize``, ``streaming``,
  ``multimodal`` and ``pipeline``

Reference parity is documented per-function with ``file:line`` citations into
``/root/reference/whisper_pandas.py`` (the reference implementation is a
single-process pandas decoder; this package shares its semantics, not its
architecture).
"""

from whisper_pandas_spark.session import get_spark

__version__ = "0.2.0"


def __getattr__(name: str):
    """Lazy re-exports of the user-facing surface.

    Deferred so that `import whisper_pandas_spark` stays instant (no
    operator module — and no pyspark.functions machinery — loads until
    something is actually used).
    """
    surface = {
        # whisper source / sink
        "register_whisper": "whisper_pandas_spark.sources.whisper",
        "write_whisper": "whisper_pandas_spark.sources.whisper_write",
        "fetch": "whisper_pandas_spark.sources.fetch",
        "materialize_to_parquet": "whisper_pandas_spark.sources.materialize",
        "materialize_bucketed": "whisper_pandas_spark.sources.bucketed",
        "file_meta": "whisper_pandas_spark.sources.meta",
        "archive_meta": "whisper_pandas_spark.sources.meta",
        # time series
        "rollup": "whisper_pandas_spark.operators.rollup",
        "resample_fill": "whisper_pandas_spark.operators.resample",
        "asof_join": "whisper_pandas_spark.operators.asof",
        "range_join": "whisper_pandas_spark.operators.asof",
        # dedup
        "exact_dedup": "whisper_pandas_spark.operators.dedup",
        "minhash_signature_arrow": "whisper_pandas_spark.operators.dedup",
        "lsh_pairs": "whisper_pandas_spark.operators.dedup",
        "simhash_pairs": "whisper_pandas_spark.operators.dedup",
        "ngram_jaccard_pairs": "whisper_pandas_spark.operators.dedup",
        "fuzzy_pairs": "whisper_pandas_spark.operators.dedup",
        "connected_components": "whisper_pandas_spark.operators.components",
        "canonical_filter": "whisper_pandas_spark.operators.components",
        "ngram_contamination": "whisper_pandas_spark.operators.decontam",
        "repetition_stats": "whisper_pandas_spark.operators.textstats",
        "quality_gate_filter": "whisper_pandas_spark.operators.textstats",
        "bpe_token_count": "whisper_pandas_spark.operators.textstats",
        # similarity / ANN
        "cosine_topk": "whisper_pandas_spark.operators.similarity",
        "cosine_topk_lsh": "whisper_pandas_spark.operators.similarity",
        "cosine_topk_ivf": "whisper_pandas_spark.operators.similarity",
        "kmeans_cosine": "whisper_pandas_spark.operators.kmeans",
        # pipeline engineering
        "hash_sample": "whisper_pandas_spark.operators.sampling",
        "split_assign": "whisper_pandas_spark.operators.sampling",
        "stratified_hash_sample": "whisper_pandas_spark.operators.sampling",
        "per_group_quota": "whisper_pandas_spark.operators.sampling",
        "salted_join": "whisper_pandas_spark.operators.skew",
        "pack_bins": "whisper_pandas_spark.operators.packing",
        # streaming
        "streaming_rollup": "whisper_pandas_spark.streaming.rollup",
        "stream_to_whisper": "whisper_pandas_spark.streaming.sink",
        "stream_near_dup": "whisper_pandas_spark.streaming.dedup",
    }
    if name in surface:
        import importlib

        return getattr(importlib.import_module(surface[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = ["get_spark", "__version__"]
