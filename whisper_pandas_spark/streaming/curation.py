"""Streaming curation funnel: the per-batch-gates + dedup-registry
composition of `pipeline_curation_end_to_end` (VERDICT r13 #6) — the
streaming face of the batch PII -> entropy -> exact-dedup ->
temperature chain.

Per micro-batch (foreachBatch, deterministic given the batch set):

1. **Stateless gates** on the batch's own rows — PII scrub
   (operators/redact.py, codegen regex) and the pinned-log2 lexical
   entropy gate (operators/lexical.py): per-row work, no cross-doc
   state, bit-identical to the batch operators because they ARE the
   batch operators applied to the micro-batch frame.
2. **Docs-state upsert**: one funnel row per document
   (doc_id, lang, pii_found, entropy_ok, clean_md5) appended if the
   doc_id is new. Rows are a pure function of the document, so
   re-delivery merges to the identical row — idempotent.
3. **Dedup-registry merge**: for gate survivors, merge
   (clean_md5 -> min doc_id) into the registry state. ``min`` is
   idempotent, commutative, and associative, so the registry is
   independent of batch order AND of full reprocessing — the same
   merge-law row as stream_bottomk_replay's set-merge, and the reason
   the `stream_curation_replay` entry can replay the whole stream
   with a fresh checkpoint into provably unchanged state.

The canonical flag is NOT decided per batch: it is a read-off
(``registry[clean_md5] == doc_id``), so a later batch carrying an
earlier doc_id correctly steals canonicality — exactly the batch
funnel's global min-id semantics, which is what lets the entry share
the batch oracle verbatim.

Scale shape: state holds one md5 + id per unique clean text and one
flags row per document — text never enters state and never shuffles
(the registry merge moves hashes). Each batch pays the two gate passes
over its own rows plus a registry-sized min-merge. State versions use
the operators/merge.py layout (the engine's versioned-parquet
convention); on a cluster the same foreachBatch body writes to shared
storage unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.merge import advance_version
from whisper_pandas_spark.stage import stage_materialize
from whisper_pandas_spark.streaming.sink import Batch, start_batches


def _funnel_rows(
    batch_df: DataFrame, min_entropy: float, min_tokens: int
) -> DataFrame:
    """(doc_id, lang, pii_found, entropy_ok, clean_md5) for one batch —
    the stateless gate stages, verbatim from the batch funnel."""
    from whisper_pandas_spark.operators.lexical import token_entropy
    from whisper_pandas_spark.operators.redact import pii_redact

    red = stage_materialize(  # feeds entropy + the output row
        pii_redact(batch_df, "doc_id", "text")
        .join(batch_df.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "pii_found",
            (F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")) > 0,
        )
    )
    ent = token_entropy(red, "doc_id", "clean_text").select(
        "doc_id", "n_tokens", "entropy"
    )
    return (
        red.select("doc_id", "lang", "clean_text", "pii_found")
        .join(ent, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "pii_found",
            F.coalesce(
                (F.col("entropy") >= min_entropy)
                & (F.col("n_tokens") >= min_tokens),
                F.lit(False),
            ).alias("entropy_ok"),
            F.md5("clean_text").alias("clean_md5"),
        )
    )


def stream_curation(
    sdf: DataFrame,
    base: str,
    min_entropy: float,
    min_tokens: int,
    checkpoint_dir: str | None = None,
):
    """Start the streaming curation maintainer over a
    (doc_id, lang, text) stream. Two versioned state tables land under
    *base*: ``docs`` (per-doc funnel flags) and ``registry``
    (clean_md5 -> min doc_id). See module docstring for the merge
    laws; each table is advanced exactly once per checkpointed batch."""

    def body(batch_df: DataFrame, batch: Batch) -> None:
        rows = stage_materialize(
            _funnel_rows(batch_df, min_entropy, min_tokens)
        )

        def docs(prev: DataFrame | None) -> DataFrame:
            if prev is None:
                return rows
            fresh = rows.join(
                prev.select("doc_id"), "doc_id", "left_anti"
            )  # idempotent: a re-delivered doc re-derives the same row
            return prev.unionByName(fresh)

        def registry(prev: DataFrame | None) -> DataFrame:
            surv = (
                rows.filter("entropy_ok")
                .groupBy(F.col("clean_md5").alias("k"))
                .agg(F.min("doc_id").alias("cid"))
            )
            if prev is None:
                return surv
            # min-merge: idempotent + commutative + associative
            return (
                prev.unionByName(surv)
                .groupBy("k")
                .agg(F.min("cid").alias("cid"))
            )

        spark = batch_df.sparkSession
        advance_version(spark, f"{base}/docs", docs, batch)
        advance_version(spark, f"{base}/registry", registry, batch)

    return start_batches(sdf, body, checkpoint_dir)


def curation_read_off(
    spark, base: str, n_target: int, seed: str
) -> DataFrame:
    """Final funnel table from the accumulated state: canonicality is
    ``registry[clean_md5] == doc_id`` (global min-id — the batch
    funnel's semantics), then the UniMax temperature rebalance over
    survivors. Output columns match pipeline_curation_end_to_end."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sampling import (
        temperature_rebalance,
    )

    docs = spark.read.parquet(current_version_path(f"{base}/docs"))
    reg = spark.read.parquet(current_version_path(f"{base}/registry"))
    g2 = docs.join(reg, docs["clean_md5"] == reg["k"], "left").select(
        "doc_id",
        "lang",
        "pii_found",
        "entropy_ok",
        F.coalesce(
            F.col("entropy_ok") & (F.col("cid") == F.col("doc_id")),
            F.lit(False),
        ).alias("is_canonical"),
    )
    surv = g2.filter("entropy_ok AND is_canonical").select("doc_id", "lang")
    tr = temperature_rebalance(
        surv, "lang", "doc_id", n_target=n_target, seed=seed
    ).select("doc_id", "sample_rate", F.col("kept").alias("skept"))
    return g2.join(tr, "doc_id", "left").select(
        "doc_id",
        "lang",
        "pii_found",
        "entropy_ok",
        "is_canonical",
        F.coalesce("sample_rate", F.lit(0.0)).alias("sample_rate"),
        F.coalesce("skept", F.lit(False)).alias("kept"),
    )
