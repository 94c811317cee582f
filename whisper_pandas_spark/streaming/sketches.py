"""Streaming sketch-table maintenance: keep a mergeable quantile sketch
(operators/sketches.py histogram family) current from a stream.

Each micro-batch is sketched on its own (one tiny histogram row per key
group — the batch IS the shard) and merged element-wise into the
versioned state table through streaming/sink.py:maintain_table, which
applies every checkpointed batch exactly once
(operators/merge.py:advance_version). Every maintainer here only names
its merge step; an ADDITIVE law (histogram, top-k, CMS, KN counts)
double-counts a replayed batch, so it refuses to start without a
checkpoint.

The payoff at 100 TB: the state is kilobytes per key group, every batch
costs one partial aggregation over the BATCH, and any later consumer
reads quantiles (hist_quantiles) off the merged counts without touching
raw history — the streaming twin of the `sketch_quantile_rollup` entry,
value-checked end-to-end by `stream_sketch_replay` (exact regime, so the
final state equals the batch recompute bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from whisper_pandas_spark.streaming.sink import maintain_table


def stream_sketch_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    checkpoint_dir: str,
):
    """Start a streaming query maintaining a per-*keys* histogram sketch
    table at ``base`` from the (keys..., value) stream ``sdf``. Returns
    the StreamingQuery (caller awaits/stops); read the live state with
    ``spark.read.parquet(current_version_path(base))`` and summarize it
    with :func:`~whisper_pandas_spark.operators.sketches.hist_quantiles`.
    Merge law: element-wise count sum (additive).
    """
    from whisper_pandas_spark.operators.sketches import (
        hist_rollup,
        hist_shard_sketches,
    )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = hist_shard_sketches(
            batch_df, keys, value_col, lo, hi, n_bins
        )
        if prior is None:
            return batch_sketch
        return hist_rollup(
            prior.select(*keys, "cnt").unionByName(batch_sketch), keys
        )

    return maintain_table(
        sdf, base, step, checkpoint_dir, additive="histogram"
    )


def stream_kmv_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    value_col: str,
    k: int = 64,
    seed: int = 0,
    checkpoint_dir: str | None = None,
):
    """Streaming twin for the KMV set-operation sketches
    (operators/sketches.py kmv_*): each micro-batch is sketched on its
    own and set-union-merged (kmv_rollup) into the versioned state.

    Merge law: bottom-k set union (idempotent — a replayed batch cannot
    corrupt the state, so ``checkpoint_dir`` is optional).
    """
    from whisper_pandas_spark.operators.sketches import (
        kmv_rollup,
        kmv_shard_sketches,
    )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = kmv_shard_sketches(batch_df, keys, value_col, k, seed)
        if prior is None:
            return kmv_rollup(batch_sketch, keys)
        return kmv_rollup(
            prior.select(*keys, "k", "hs").unionByName(batch_sketch), keys
        )

    return maintain_table(sdf, base, step, checkpoint_dir)


def stream_topk_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    item_col: str,
    capacity: int,
    checkpoint_dir: str,
):
    """Streaming heavy-hitters maintenance — the third member of the
    streaming-sketch family (additive histogram, idempotent KMV, and
    now merge-truncated top-k): each micro-batch is summarized by
    operators/sketches.py:topk_shard_sketches and merged into the
    versioned state by the space-saving merge rule — per-item LO counts
    add, the truncation slack (`rest_max`) of the two summaries ADDS
    (an item absent from one side could have held up to that side's
    rest_max), and the merged item list re-truncates to `capacity`,
    folding the largest dropped count into the new slack. In the exact
    regime (distinct items per group <= capacity end to end) rest_max
    stays 0 and the state equals the batch recompute bit-for-bit —
    which is what the registry oracle checks; the approximate-regime
    bound (lo <= true <= lo + rest_max) is pytest-pinned.
    Merge law: space-saving count sum (additive).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from whisper_pandas_spark.operators.sketches import topk_shard_sketches

    kcols = list(keys)

    def merge_states(a: DataFrame, b: DataFrame) -> DataFrame:
        def exploded(df: DataFrame) -> DataFrame:
            return df.select(
                *kcols, F.explode("items").alias("e"), "rest_max"
            ).select(
                *kcols,
                F.col("e.item").alias("item"),
                F.col("e.cnt").alias("cnt"),
            )

        items = (
            exploded(a)
            .unionByName(exploded(b))
            .groupBy(*kcols, "item")
            .agg(F.sum("cnt").alias("cnt"))
        )
        slack = (
            a.select(*kcols, "rest_max")
            .unionByName(b.select(*kcols, "rest_max"))
            .groupBy(*kcols)
            .agg(F.sum("rest_max").alias("rest_in"))
        )
        w = Window.partitionBy(*kcols).orderBy(F.desc("cnt"), F.asc("item"))
        ranked = items.withColumn("__rn", F.row_number().over(w))
        return (
            ranked.join(slack, kcols)
            .groupBy(*kcols)
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") <= capacity,
                            F.struct("item", "cnt"),
                        )
                    )
                ).alias("items"),
                (
                    F.min("rest_in")
                    + F.coalesce(
                        F.max(
                            F.when(F.col("__rn") > capacity, F.col("cnt"))
                        ),
                        F.lit(0),
                    )
                ).alias("rest_max"),
            )
        )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = topk_shard_sketches(batch_df, keys, item_col, capacity)
        if prior is None:
            return batch_sketch
        return merge_states(
            prior.select(*kcols, "items", "rest_max"), batch_sketch
        )

    return maintain_table(sdf, base, step, checkpoint_dir, additive="top-k")


def stream_cms_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    value_col: str,
    depth: int = 3,
    width: int = 128,
    seed: int = 0,
    checkpoint_dir: str | None = None,
):
    """Streaming twin for the count-min sketches (operators/sketches.py
    cms_*): each micro-batch is sketched on its own (the batch IS the
    shard) and merged into the versioned state by the CMS elementwise-sum
    law (cms_rollup over the sparse cell union) — additive. State is
    (keys..., row, col, cnt) — at most groups x depth x width rows,
    kilobytes per group — and any later consumer reads point-frequency
    estimates off it with cms_estimate without touching raw history.
    """
    from whisper_pandas_spark.operators.sketches import (
        cms_rollup,
        cms_shard_sketches,
    )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = cms_shard_sketches(
            batch_df, keys, value_col, depth=depth, width=width, seed=seed
        )
        if prior is None:
            return batch_sketch
        return cms_rollup(
            prior.select(*keys, "row", "col", "cnt").unionByName(batch_sketch),
            keys,
        )

    return maintain_table(sdf, base, step, checkpoint_dir, additive="CMS")


def stream_hll_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    value_col: str,
    m: int = 64,
    seed: int = 0,
    checkpoint_dir: str | None = None,
):
    """Streaming twin for the HyperLogLog sketches (operators/hll.py):
    each micro-batch is sketched on its own and element-wise-MAX-merged
    (hll_rollup) into the versioned register state — live distinct
    counts per group over an unbounded stream in O(groups x m) state.
    Merge law: register max (idempotent; the `stream_hll_replay` entry's
    deliberate double pass asserts it end to end).
    """
    from whisper_pandas_spark.operators.hll import (
        hll_rollup,
        hll_shard_sketches,
    )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = hll_shard_sketches(
            batch_df, keys, value_col, m=m, seed=seed
        )
        if prior is None:
            return hll_rollup(batch_sketch, keys)
        return hll_rollup(
            prior.select(*keys, "bucket", "reg").unionByName(batch_sketch),
            keys,
        )

    return maintain_table(sdf, base, step, checkpoint_dir)


def stream_bloom_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    value_col: str,
    k: int = 3,
    m: int = 4096,
    seed: int = 0,
    checkpoint_dir: str | None = None,
):
    """Streaming twin for the Bloom membership sketches
    (operators/sketches.py bloom_*): each micro-batch is sketched on its
    own and set-union-merged (bloom_rollup) into the versioned state —
    the streaming face of Dolma-style corpus dedup, where every arriving
    shard's keys are added to one global membership filter.
    Merge law: bit-set union (idempotent; the `stream_bloom_replay`
    entry reprocesses the whole stream into the same state).
    """
    from whisper_pandas_spark.operators.sketches import (
        bloom_rollup,
        bloom_shard_sketches,
    )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_sketch = bloom_shard_sketches(
            batch_df, keys, value_col, k=k, m=m, seed=seed
        )
        if prior is None:
            return bloom_rollup(batch_sketch, keys)
        return bloom_rollup(
            prior.select(*keys, "bit").unionByName(batch_sketch), keys
        )

    return maintain_table(sdf, base, step, checkpoint_dir)


def stream_kn_counts_update(
    sdf: DataFrame,
    base: str,
    id_col: str,
    text_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming maintenance of the Kneser-Ney trigram COUNT TABLE
    (operators/knlm.py): each micro-batch of documents contributes its
    trigram counts, merged into the versioned (w1, w2, w3, c123) state
    by elementwise SUM — live LM statistics over an unbounded corpus,
    scoreable at any time via kn_score_from_counts. Merge law: count
    sum (additive). State is the Zipf-bounded trigram-type table —
    orders of magnitude below corpus scale and exactly the c123 root the
    batch scorer derives everything from, so stream-maintained counts
    score BIT-IDENTICALLY to a batch rebuild (asserted by the
    `stream_kn_replay` entry's shared oracle).
    """
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.knlm import trigram_stream

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        batch_counts = (
            trigram_stream(batch_df, id_col, text_col)
            .groupBy("w1", "w2", "w3")
            .agg(F.count(F.lit(1)).alias("c123"))
        )
        if prior is None:
            return batch_counts
        return (
            prior.select("w1", "w2", "w3", "c123")
            .unionByName(batch_counts)
            .groupBy("w1", "w2", "w3")
            .agg(F.sum("c123").alias("c123"))
        )

    return maintain_table(
        sdf, base, step, checkpoint_dir, additive="trigram-count"
    )


def stream_bottomk_update(
    sdf: DataFrame,
    base: str,
    keys: tuple[str, ...],
    id_col: str,
    k: int,
    seed: int = 0,
    checkpoint_dir: str | None = None,
):
    """Streaming per-group UNIFORM SAMPLE maintenance: bottom-k by the
    deterministic md5 key hash (operators/sampling.py:hash_bucket) —
    the streaming face of content-keyed sampling. The state per group
    is the k rows with the smallest hash values; because the hash is a
    pure function of the row's key, bottom-k over a union is
    associative, commutative AND idempotent:

        bk(S ∪ T) = bk(bk(S) ∪ T),   bk(S ∪ S) = bk(S)

    so a replayed batch or a full reprocess cannot corrupt the state
    (asserted end-to-end by `stream_bottomk_replay`'s double pass).
    Rows are ranked by (h, id) ascending with NULLs last, as in the
    DuckDB twin, so a NULL id (NULL hash) never displaces a real one.

    Relation to :func:`stream_kmv_update` above: KMV keeps only the k
    minimum HASHES per group, packed as a sketch array — an estimator
    (distinct counts / set ops), not a sample. This maintainer keeps
    the k minimum-hash ROWS (group, id, h): the same merge law carrying
    an actual uniform sample — the content-keyed eval-holdout /
    inspection sample a 100 TB streaming ingest needs, which no
    estimator state can reconstruct. O(groups x k) state, one window
    over (prior ∪ batch) — never over the stream's bulk.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sampling import hash_bucket

    key_cols = [*keys, id_col]

    def bottom_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(
            F.col("h").asc_nulls_last(), F.col(id_col).asc_nulls_last()
        )
        return (
            df.dropDuplicates(key_cols)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .drop("rn")
        )

    def step(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        hashed = batch_df.select(*key_cols).withColumn(
            "h", hash_bucket(F.col(id_col).cast("string"), seed)
        )
        if prior is None:
            return bottom_k(hashed)
        return bottom_k(prior.select(*key_cols, "h").unionByName(hashed))

    return maintain_table(sdf, base, step, checkpoint_dir)
