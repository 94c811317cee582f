"""Streaming sinks, and the one way the engine starts a ``foreachBatch``
query.

:func:`start_batches` is the only ``foreachBatch`` call in the package:
it skips empty micro-batches, binds the checkpoint and starts the query.
:func:`maintain_table` builds on it to keep one versioned state table
(operators/merge.py) current — every streaming maintainer passes it its
own merge step.

Streaming → Whisper: :func:`stream_to_whisper` persists a metric stream
as .wsp files through the batch write path (sources/whisper_write.py).
Each micro-batch writes in MERGE mode: a touched metric's existing file
is read and the batch's points overlay its stored ring slots, so points
that arrived in earlier micro-batches survive. Slot overlay is
idempotent (replaying a batch writes the same values into the same
slots), so foreachBatch's at-least-once delivery is safe too. This
makes the engine a (batch-fed) Graphite-compatible writer: stream →
optional rollup/dedup → .wsp tree readable by Graphite tooling and by
our own reader.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.merge import advance_version, merge_state
from whisper_pandas_spark.sources.whisper_write import write_whisper

Batch = tuple[str, int] | None


def start_batches(
    sdf: DataFrame,
    body: Callable[[DataFrame, Batch], None],
    checkpoint_dir: str | None = None,
    *,
    additive: str | None = None,
    output_mode: str = "append",
):
    """Start ``sdf`` as a ``foreachBatch`` query and return the
    StreamingQuery. ``body(batch_df, batch)`` runs for every non-empty
    micro-batch; ``batch`` is ``(checkpoint_dir, batch_id)`` — the
    exactly-once key of :func:`~whisper_pandas_spark.operators.merge.advance_version`
    — when a checkpoint is given, else None (without a checkpoint batch
    ids restart from 0 on every run, so they key nothing).

    ``additive`` names a merge law under which a replayed batch would
    double-count; such a stream refuses to start without a checkpoint.
    """
    if additive is not None and not checkpoint_dir:
        raise ValueError(
            f"checkpoint_dir is required: the {additive} merge is additive, "
            "so a replayed batch would double-count — batch-id dedup needs "
            "durable batch numbering"
        )

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, (checkpoint_dir, batch_id) if checkpoint_dir else None)

    writer = sdf.writeStream.foreachBatch(run).outputMode(output_mode)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def maintain_table(
    sdf: DataFrame,
    base: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
    checkpoint_dir: str | None = None,
    *,
    additive: str | None = None,
):
    """Keep the versioned table at ``base`` current from ``sdf``: each
    micro-batch advances it by ``step(batch_df, prior)`` (``prior`` is
    the live state, None before the first version), exactly once per
    batch when checkpointed. Returns the StreamingQuery."""

    def body(batch_df: DataFrame, batch: Batch) -> None:
        advance_version(
            batch_df.sparkSession,
            base,
            lambda prior: step(batch_df, prior),
            batch,
        )

    return start_batches(sdf, body, checkpoint_dir, additive=additive)


def stream_to_whisper(
    sdf: DataFrame,
    out_dir: str,
    archives: str = "10:1000,60:500",
    aggregation: str = "average",
    x_files_factor: float = 0.5,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
):
    """Start a streaming query writing (metric, timestamp, value) rows to
    a .wsp tree. Returns the StreamingQuery (caller awaits/stops).

    ``output_mode``: "append" for raw point streams; "update" when *sdf*
    is a streaming AGGREGATION (windows then flush their current value
    every trigger instead of waiting for watermark expiry, and the
    merge-mode slot overlay makes re-writes of a window idempotent —
    last update wins, exactly Whisper's own slot semantics)."""

    def sink(batch_df: DataFrame, batch: Batch) -> None:
        write_whisper(
            batch_df, out_dir, archives, aggregation, x_files_factor, merge=True
        )

    return start_batches(sdf, sink, checkpoint_dir, output_mode=output_mode)


def stream_merge_into_parquet(
    sdf: DataFrame,
    base: str,
    key_col: str,
    seq_col: str,
    delete_col: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming CDC apply: maintain a keyed copy-on-write parquet table
    (operators/merge.py) from a stream of change rows — the
    Delta-`MERGE`-from-CDC pattern on plain parquet.

    Correctness is carried by the MERGE, not by delivery order: every
    micro-batch compresses to one row per key (whole-row ``max_by`` over
    ``(seq, remaining columns)`` — a (key, seq) tie resolves to ONE
    input row, never stitched column-by-column), and the table merge is
    sequence-aware (`merge_changes_ordered`): highest seq wins across
    batches, deletes persist as TOMBSTONE rows. Consequences:

    - batches may arrive in any order (a backfill file sorted late by
      the file source cannot regress newer state or resurrect a delete);
    - re-applying any batch is IDEMPOTENT, so foreachBatch's
      at-least-once delivery — including a restart from a fresh
      checkpoint — converges to the same table.

    With a ``checkpoint_dir`` each batch is also applied exactly once
    (the ``advance_version`` marker), so a replay under the same
    checkpoint adds no version; a different checkpoint is a different
    stream and re-merges, harmlessly by idempotence.

    Read the live state with ``read_current_state(spark, base,
    delete_col=..., seq_col=...)`` — the raw versions keep tombstones
    and sequence numbers on purpose.

    Returns the StreamingQuery. Scale shape: one partial-agg exchange
    over the BATCH (compression) + merge_into_parquet's key-grouped
    rewrite; partition the base path and merge per partition to bound
    rewrite amplification.
    """
    cols = list(sdf.columns)
    others = [c for c in cols if c not in (key_col, seq_col)]

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        latest = (
            batch_df.groupBy(key_col)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols]),
                    F.struct(F.col(seq_col), *[F.col(c) for c in others]),
                ).alias("__r")
            )
            .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
        )
        return merge_state(prior, latest, key_col, delete_col, seq_col)

    return maintain_table(sdf, base, step, checkpoint_dir)
