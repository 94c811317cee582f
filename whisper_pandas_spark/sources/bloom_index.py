"""Bloom-filter FILE index: point-lookup data skipping beyond min/max.

Range/Z-order clustering (sources/clustered.py) makes min/max row-group
statistics selective, but min/max cannot skip a file for a point lookup
on a column the layout does NOT cluster — the classic "find this one
user/document id in 100 TB" case. The standard warehouse answer (Delta
bloom indexes, Iceberg bloom filter metadata, ClickHouse skip indexes —
all public designs) is a per-file Bloom bitset sidecar: consult the
index first, read only the files whose bitsets claim the key.

This implementation keeps everything engine-portable and deterministic:

- **Hash family**: the repo's cross-engine md5 recipe
  (functions/hashing.py) — ``pos_j(v) = hash64("bloom<j>:" + v) % m`` — so
  index content is bit-reproducible on any engine and across rebuilds.
- **Build**: one distinct over (file, key), one (file, word)-keyed
  partial aggregation folding ``bit_or`` of single-bit words, one tiny
  per-file densify — no Python, no per-file driver work, scales with
  the table.
- **Lookup**: probe positions computed driver-side with hashlib (the
  identical recipe, verified equal in tests), then a word/bit filter
  over the index rows (file-count-sized) picks the files to scan.

Bloom guarantees NO FALSE NEGATIVES by construction (every inserted
key's bits are set), so pruning never changes results — only cost.
False positives only add files to the scan (rate ~(1-e^{-hn/m})^h; the
default geometry targets ~1%).

No reference-repo parity: whisper_pandas stops at decoding .wsp; this
backs the engine's 100 TB scan story (SURVEY.md §4) next to the
range/Z-order layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import (
    HASH_HEX_CHARS,
    keyed_hash64,
    py_md5_int,
)

_WORD = 64


def _spark_pos(value_col: str, j: int, m: int):
    """Bit position of hash j for a (string-cast) key column — JVM-side
    twin of :func:`_py_pos`."""
    return F.pmod(keyed_hash64(f"bloom{j}", value_col), F.lit(m))


def _py_pos(value: str, j: int, m: int) -> int:
    """Driver-side twin of :func:`_spark_pos` (identical md5 recipe)."""
    return py_md5_int(f"bloom{j}:{value}", HASH_HEX_CHARS) % m


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    m_bits: int = 1 << 17,
    n_hashes: int = 7,
) -> DataFrame:
    """Build the per-file Bloom index of ``key_col`` over the parquet
    table at ``table_path``: one row per data file —
    ``(file STRING, m INT, h INT, words ARRAY<BIGINT>[m/64])``.

    Persist it next to the table (it is a plain DataFrame) and hand it
    to :func:`bloom_prune_files` at query time. ``m_bits`` must be a
    multiple of 64; size it at ~10 bits per expected distinct key per
    file for ~1% false positives at ``n_hashes=7``.
    """
    if m_bits % _WORD or m_bits <= 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    keys = (
        spark.read.parquet(table_path)
        .select(
            F.input_file_name().alias("file"),
            F.col(key_col).cast("string").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
        .distinct()
    )
    pos = keys.select(
        "file",
        F.explode(
            F.array(*[_spark_pos("__v", j, m_bits) for j in range(n_hashes)])
        ).alias("__p"),
    )
    words = (
        pos.groupBy(
            "file", (F.col("__p") / _WORD).cast("int").alias("__w")
        )
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(__p % {_WORD} AS INT))")
            ).alias("__word")
        )
    )
    dense = words.groupBy("file").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__w"), F.col("__word")))
        ).alias("__m")
    )
    return dense.select(
        "file",
        F.lit(m_bits).cast("int").alias("m"),
        F.lit(n_hashes).cast("int").alias("h"),
        F.transform(
            F.sequence(F.lit(0), F.lit(m_bits // _WORD - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i.cast("int")),
                F.lit(0).cast("long"),
            ),
        ).alias("words"),
    )


def bloom_prune_files(
    index: DataFrame,
    values: list,
    m_bits: int = 1 << 17,
    n_hashes: int = 7,
) -> list[str]:
    """Files that may contain ANY of ``values`` (no false negatives;
    false positives only add files). The index is file-count-sized, so
    the word/bit filter is a trivial scan of it."""
    if not values:
        return []
    keep = None
    for v in values:
        cond = None
        for j in range(n_hashes):
            p = _py_pos(str(v), j, m_bits)
            bit = (
                F.expr(
                    f"shiftright(element_at(words, {p // _WORD + 1}),"
                    f" {p % _WORD})"
                ).bitwiseAND(F.lit(1))
                == 1
            )
            cond = bit if cond is None else (cond & bit)
        keep = cond if keep is None else (keep | cond)
    return [r["file"] for r in index.where(keep).select("file").collect()]


def bloom_lookup(
    spark: SparkSession,
    table_path: str,
    index: DataFrame,
    key_col: str,
    values: list,
    m_bits: int = 1 << 17,
    n_hashes: int = 7,
) -> tuple[DataFrame, int, int]:
    """Point lookup through the index: returns (rows, files_scanned,
    files_total) — the matching rows of ``table_path`` where ``key_col``
    is in ``values``, reading ONLY the files the Bloom index admits.

    The pruned-file read sets ``basePath`` to ``table_path`` so a
    Hive-partitioned table keeps its partition columns (and the two
    branches — empty prune vs file read — agree on schema). Partition
    columns themselves are not indexable here (they live in paths, not
    row groups); use directory pruning for those."""
    total = index.count()
    files = bloom_prune_files(index, values, m_bits, n_hashes)
    if not files:
        empty = spark.read.parquet(table_path).limit(0)
        return empty.where(F.col(key_col).isin(values)), 0, total
    df = (
        spark.read.option("basePath", table_path)
        .parquet(*files)
        .where(F.col(key_col).isin(values))
    )
    return df, len(files), total
