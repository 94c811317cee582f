"""Streaming perceptual-image dedup: a growing dHash fingerprint
registry maintained by foreachBatch — the streaming face of
`mm_phash_neardup`/`mm_phash_canonical` (the batch pair/canonical
operators), and the perceptual sibling of streaming/sketches.py's Bloom
maintainer.

Semantics per micro-batch (deterministic given the batch sequence):

1. dHash every image in the batch (one Arrow decode pass,
   operators/multimodal.py:image_dhash);
2. EXACT within-batch dedup: keep the min img_id per dhash (two
   near-but-not-identical images in the SAME batch both register —
   documented; a production variant would band within the batch too);
3. reject any survivor within ``max_hamming`` of an EXISTING registry
   fingerprint — the batch operators' band join
   (operators/dedup.py:hamming_band_join, batch against registry;
   8x8-bit bands: complete for max_hamming <= 7, so the reject set is
   exactly the hamming ball, no false accepts);
4. append the accepted (dhash, img_id) rows to the versioned state.

Merge law: hamming-ball-filtered append (idempotent — a replayed
batch's fingerprints are all within hamming 0 of the registry, so every
row is rejected; the `stream_phash_dedup` entry reprocesses the whole
stream into the same state).

Scale shape: the registry holds one 8-byte hash + one id per UNIQUE
image — orders of magnitude smaller than the stream; each batch pays
one decode pass over its own payloads, one band join against the
registry (registry side band table is registry-sized), and one
append-only state write. Payloads never shuffle and never enter state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.dedup import hamming_band_join
from whisper_pandas_spark.stage import stage_materialize
from whisper_pandas_spark.streaming.sink import maintain_table


def stream_phash_dedup(
    sdf: DataFrame,
    base: str,
    id_col: str = "img_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    checkpoint_dir: str | None = None,
):
    """Start the streaming registry maintainer over an (id, payload)
    stream; state versions land under ``base`` (operators/merge.py
    versioned-table layout). See module docstring for semantics."""
    from whisper_pandas_spark.operators.multimodal import image_dhash

    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming must be in [0, 7] (8-band completeness), "
            f"got {max_hamming}"
        )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        hashes = image_dhash(batch_df, id_col, payload_col)
        batch_min = stage_materialize(
            hashes.groupBy("dhash")
            .agg(F.min("doc_id").alias("img_id"))
        )
        if prior is None:
            return batch_min
        state = prior.select("dhash", "img_id")
        conflict = (
            hamming_band_join(
                batch_min, "dhash", 8, 8, max_hamming, other=state, id_col="dhash"
            )
            .select(F.col("doc_i").alias("dhash"))
            .distinct()
        )
        accepted = batch_min.join(conflict, "dhash", "left_anti")
        return state.unionByName(accepted)

    return maintain_table(sdf, base, step, checkpoint_dir)
