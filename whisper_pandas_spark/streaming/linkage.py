"""Streaming record linkage: the incremental face of operators/
linkage.py (SURVEY §2.9 x Y167).

A linkage workload is naturally incremental — the master (clean) side
is a slowly-changing reference table, while dirty records arrive
continuously (new crawls, new uploads, new CRM rows). Because both
blocking passes and the FS score are pure functions of ONE
(clean, dirty) pair, linking a micro-batch of dirty records against
the static master commutes with any batching of the dirty stream:
the union of per-batch pair sets over a partition of the dirty rows
IS the batch operator's pair set. That makes the maintainer stateless
per batch plus one idempotent upsert:

- per batch: candidates + scores via the SAME er_candidates /
  er_score_pairs code paths (bit-identical by construction);
- state: a versioned ``pairs`` table keyed (c_id, d_id) with a
  left_anti upsert — a re-delivered dirty record re-derives exactly
  the same pairs, so re-processing the whole stream with a fresh
  checkpoint provably lands in unchanged state (the stream_curation /
  stream_phash replay doctrine).

Scale: the static clean side enters each micro-batch join once; with
a broadcast-sized batch the blocking joins broadcast the BATCH, so
the master never shuffles. Pair state carries ids + score only —
never the linkage fields.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.linkage import (
    er_candidates,
    er_score_pairs,
)
from whisper_pandas_spark.stage import stage_materialize
from whisper_pandas_spark.streaming.sink import maintain_table


def stream_linkage(
    sdf_dirty: DataFrame,
    clean_df: DataFrame,
    base: str,
    checkpoint_dir: str | None = None,
):
    """Start the linkage maintainer over a dirty-record stream
    ``(rec_id, src, nation, name, phone, city, bal_cents, seg)``.
    One versioned state table lands under *base*: ``pairs``
    (c_id, d_id, score, cls, is_true). Merge law: insert-if-absent on
    (c_id, d_id) (idempotent)."""

    def step(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        recs = clean_df.unionByName(batch_df)
        pairs = stage_materialize(er_score_pairs(er_candidates(recs)))
        if prev is None:
            return pairs
        fresh = pairs.join(
            prev.select("c_id", "d_id"), ["c_id", "d_id"], "left_anti"
        )  # idempotent: a re-delivered pair re-derives the same row
        return prev.unionByName(fresh)

    return maintain_table(sdf_dirty, f"{base}/pairs", step, checkpoint_dir)


def linkage_read_off(spark, base: str) -> DataFrame:
    """The pairs state, ordered like the batch entry."""
    from whisper_pandas_spark.operators.merge import current_version_path

    cur = current_version_path(f"{base}/pairs")
    return spark.read.parquet(cur).orderBy("c_id", "d_id")
