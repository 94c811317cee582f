"""Streaming near-duplicate detection — incremental MinHash-LSH against
a growing signature store (SURVEY.md §2.9 × §2.10 X2).

The batch dedup family answers "which pairs in THIS corpus are near
dups"; a streaming ingestion pipeline needs the incremental question:
"is this NEW document a near dup of anything seen so far". The
idiomatic Spark shape is `foreachBatch` around the batch operators —
exactly like the Whisper sink — with the signature table as the
persistent state:

per micro-batch:
  1. MinHash signatures for the batch's documents (Arrow, shuffle-free);
  2. union with the signature STORE (parquet — at scale this is the
     signature table the batch pipeline materializes anyway);
  3. banded LSH + exact-Jaccard verify, keeping only pairs that touch a
     batch document (old-vs-old pairs were already emitted when the
     younger of the two arrived);
  4. append the verified pairs to the output table and the batch
     signatures to the store.

Scale: step 3's bucket join is the same sub-quadratic LSH shape as the
batch path; the per-batch cost is O(batch × collisions), never
O(store²). The store only ever ships (doc_id, hh, sig) rows — text
never enters the state.

Delivery semantics: foreachBatch is at-least-once; a replayed batch
re-appends its signatures, which duplicates store rows and can re-emit
pairs. Exactly-once needs a transactional table format for the two
appends (or an idempotent upsert keyed on doc_id) — out of scope for
the plain-parquet demonstration, and flagged here honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.dedup import (
    lsh_pairs,
    minhash_signature_arrow,
)
from whisper_pandas_spark.streaming.sink import Batch, start_batches


def stream_near_dup(
    sdf: DataFrame,
    pairs_dir: str,
    sig_store_dir: str,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 12,
    bands: int = 4,
    rows: int = 3,
    jaccard_threshold: float = 0.8,
):
    """Start the incremental near-dup stream over (doc_id, text) rows.

    Emits (doc_i, doc_j, jaccard) rows to *pairs_dir* (parquet, append)
    where at least one side arrived in the current micro-batch; maintains
    the MinHash signature store at *sig_store_dir*. Returns the
    StreamingQuery.
    """

    def sink(batch_df: DataFrame, batch: Batch) -> None:
        spark = batch_df.sparkSession
        new_sig = minhash_signature_arrow(
            batch_df, id_col, text_col, num_perm
        ).persist()
        # Explicit existence probe for the first batch. Catching the read
        # error instead would also swallow REAL failures (corrupt store,
        # transient FS error) and silently dedup against nothing — those
        # must fail the micro-batch so the checkpoint retries it.
        import glob
        import os

        if glob.glob(os.path.join(sig_store_dir, "*.parquet")) or glob.glob(
            os.path.join(sig_store_dir, "_SUCCESS")
        ):
            store = spark.read.parquet(sig_store_dir)
            all_sig = store.unionByName(new_sig)
        else:
            all_sig = new_sig  # first batch: no store yet
        all_sig = all_sig.persist()

        pairs = lsh_pairs(all_sig, bands, rows, jaccard_threshold)
        new_ids = F.broadcast(new_sig.select(F.col("doc_id").alias("nid")))
        fresh = pairs.join(
            new_ids,
            (pairs["doc_i"] == new_ids["nid"]) | (pairs["doc_j"] == new_ids["nid"]),
            "left_semi",
        )
        fresh.write.mode("append").parquet(pairs_dir)
        new_sig.select("doc_id", "hh", "sig").write.mode("append").parquet(
            sig_store_dir
        )
        all_sig.unpersist()
        new_sig.unpersist()

    return start_batches(sdf, sink, checkpoint_dir)
