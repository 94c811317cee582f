"""Connected components over near-duplicate pairs + canonical selection.

Pair emission (MinHash-LSH / SimHash / n-gram — operators/dedup.py) is
only HALF of corpus dedup: pairs chain (A~B, B~C), so the pipeline must
cluster them transitively and keep one canonical document per cluster.
The reference has no dedup surface at all (it is a single-file decoder);
this is the engine's own 100 TB bar.

Algorithm: min-label propagation with pointer doubling, to a fixpoint.
Every node starts labeled with itself; each round, every node takes the
min label among itself and its neighbors (one-hop flow), then jumps to
its label's label (``comp <- comp[comp]`` — the path-halving step).
Neighbor flow alone converges in O(cluster diameter) rounds — fine for
the clique-ish graphs threshold-based pair emission usually makes, but
a CHAIN-shaped cluster (exactly what substring-span dedup emits for a
document serialized into overlapping shards) has diameter O(length).
The doubling step makes convergence O(log diameter): 25 rounds cover
diameters past 2^25 instead of 25 hops, and non-convergence raises
instead of silently returning partial labels.

Scale properties:
- each round is one edges⋈labels join + one min-groupBy (both keyed on
  uniform doc ids) plus the doubling self-join keyed on the label;
  label keys skew as clusters grow (every member carries its root) —
  AQE skew-join handles the hot roots, and the joined payload is 16
  bytes/row;
- the frame a round touches is one row per node IN SOME PAIR (the
  near-dup minority, not the corpus);
- lineage is truncated per round with an eager stage barrier;
- the convergence probe exploits monotonicity: labels only ever
  DECREASE, so "no label changed" is exactly "the label-sum is
  unchanged" — one exact DECIMAL sum over the just-checkpointed frame
  per round (a scan-aggregate), not a labels-vs-labels join + count
  (which cost an extra shuffle job per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize


def connected_components(
    pairs: DataFrame,
    src: str = "doc_i",
    dst: str = "doc_j",
    max_iters: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in *pairs*; component =
    the smallest node id reachable through the pair graph (deterministic
    under any partitioning)."""
    e = pairs.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = stage_materialize(
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    def label_sum(frame: DataFrame):
        # exact + associative (partitioning-independent); DECIMAL(38,0)
        # holds node-id sums far past any BIGINT-id corpus
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iters):
        prop = edges.join(
            labels.select(F.col("node").alias("a"), "comp"), "a"
        ).select(F.col("b").alias("node"), "comp")
        cand = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp <- comp[comp]. Labels only decrease, so
        # comp[comp] <= comp; every comp value IS a labeled node (it is
        # the id of some node in the pair graph), so the join is total.
        hop = cand.select(
            F.col("node").alias("comp"), F.col("comp").alias("comp2")
        )
        new = stage_materialize(
            cand.join(hop, "comp")
            .select("node", F.least("comp", "comp2").alias("comp"))
        )
        # monotone convergence probe: labels never increase, so the
        # label-sum is strictly smaller iff ANY label changed
        cur_sum = label_sum(new)
        labels = new
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(diameter past 2^iters — raise max_iters)"
        )
    return labels


def canonical_filter(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_i",
    dst: str = "doc_j",
) -> DataFrame:
    """Drop every non-canonical near-duplicate from *df*: each pair
    cluster keeps only its min-id member; rows in no pair pass through
    untouched. One left-anti join against the (small) drop list."""
    comp = connected_components(pairs, src=src, dst=dst)
    drop = comp.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
