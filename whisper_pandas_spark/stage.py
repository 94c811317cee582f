"""Stage barriers: the one place the engine materializes a stage
boundary.

The rule: every barrier in ``whisper_pandas_spark`` — a multi-consumer
funnel stage, a per-round lineage cut inside an iterative trainer, a
``foreachBatch`` body's shared frame — calls :func:`stage_materialize`,
and nothing else calls ``localCheckpoint``/``checkpoint``
(tests/test_barriers.py walks the package and fails on any other call
site). A barrier exists because N downstream consumers would otherwise
each re-run the whole upstream subtree (the curation funnel measured 64
redundant fixture scans without its three barriers), or because an
iteration's plan would otherwise compound in depth.

:func:`stage_materialize` picks the binding from the SparkContext:

- a RELIABLE checkpoint directory is configured
  (``spark.sparkContext.setCheckpointDir('hdfs://...')`` — the one-line
  cluster deployment step): ``df.checkpoint(eager=True)`` writes
  replicated files that survive executor loss and driver GC of the RDD
  graph. Measured cost on PySpark 4.1.2: one write of the stage output,
  no second computation (a 100-row UDF stage ran its UDF 100 times under
  the eager reliable checkpoint, the same count as under
  ``localCheckpoint``);
- no directory (local mode, every test, the oracle sweep and the
  benchmark): ``df.localCheckpoint(eager=True)``. Its blocks live in
  EXECUTOR-LOCAL storage; losing one does not recompute anything — the
  job fails (spark-core raises ``checkpointRDDBlockIdNotFoundError``),
  whether the block belonged to a funnel barrier or a training loop.

So a cluster that sets a checkpoint directory makes every barrier fault
tolerant at once, and no call site decides which barriers may fail.

The third pattern (an explicit intermediate parquet write + re-read,
operators/merge.py's versioned-state layout) remains the right call
when the stage output is ALSO a product the pipeline wants to keep; the
barriers here are pure plan-sharing. SCALE.md "Funnel stage boundaries"
carries the 100 TB narrative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stage_materialize(df: DataFrame) -> DataFrame:
    """Materialize a stage barrier once — reliable checkpoint when a
    checkpoint dir is configured, localCheckpoint otherwise. Eager in
    both bindings, so the stage runs exactly once at the call site."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
