"""Diversified selection: Maximal Marginal Relevance (MMR) over an
embedding column.

The curation step after similarity search: top-k by relevance alone
returns near-duplicates of the best hit; MMR (Carbonell & Goldstein
1998 — the public algorithm) greedily picks items maximizing

    score(v) = lam * cos(v, query) - (1 - lam) * max_{s in S} cos(v, s)

so every pick trades relevance against similarity to what is already
selected. ``lam = 1`` degenerates to plain top-k; lower values spread
the picks across clusters (asserted in tests on planted clusters).

Scale shape: relevance is ONE broadcast-query corpus pass (map-side
cosine, no shuffle); each of the k greedy rounds is one scan of the
remaining corpus computing `greatest(ms, cos(v, picked))` + a top-1
(TakeOrderedAndProject) — cost k * O(corpus), the canonical MMR bound.
The running state passes a stage barrier every FOURTH round rather
than every round: between barriers the lineage is at most 4 narrow
map-side projections over a candidate set the ``max_candidates``
contract already bounds, so re-deriving it inside the top-1 job is
cheaper than paying a separate materialization job per round (measured
~25% of the entry's wall at k=8); plan depth stays bounded in k either
way, and a barrier never changes bits (the kmeans-trainer parity tests pin
that). Only the k picked rows ever reach the driver.

Determinism: cosine uses the shared left-fold dot/norm
(operators/similarity.py), ties break by id — the whole greedy
trajectory replays bit-for-bit in DuckDB via the same unrolled-step
pattern as the k-means/SemDeDup oracles (`mmr_diversified_topk`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

_NEG = -1e18  # max-over-empty-set sentinel (cos is in [-1, 1])


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidates: int = 100_000,
) -> DataFrame:
    """Greedy MMR: (rnk INT, <id_col>, relevance DOUBLE, score DOUBLE)
    for the k picks, rank order. ``query_vec`` is a plain float list
    (broadcast as a literal into the relevance pass).

    Exact MMR is k * O(corpus) by design — it is the CURATION step after
    similarity search, not a search itself. ``max_candidates`` enforces
    that contract (count-and-raise, like merge's
    ``max_touched_partitions``): feeding the raw corpus instead of an
    ANN candidate set fails loudly rather than launching k full scans.
    Raise it deliberately (or pre-filter with sim_topk_ivf — see
    ``mmr_diversified_ann``) when a larger pool is intended; pass
    ``None`` to disable entirely.

    The returned id column keeps the corpus id column's exact type
    (string doc ids work, not just longs)."""
    from whisper_pandas_spark.operators.similarity import cosine

    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if max_candidates is not None:
        n = corpus.count()
        if n > max_candidates:
            raise ValueError(
                f"mmr_select got {n} candidates > max_candidates="
                f"{max_candidates}: exact MMR is k*O(candidates) — feed it "
                "an ANN candidate set (e.g. sim_topk_ivf), or raise/disable "
                "max_candidates deliberately"
            )
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    state = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        cosine(F.col(vec_col), q).alias("__rel"),
        F.lit(None).cast("double").alias("__ms"),
    ).where(F.col("__rel").isNotNull())
    state = stage_materialize(state)

    score = F.when(
        F.col("__ms").isNull(), F.lit(lam) * F.col("__rel")
    ).otherwise(
        F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * F.col("__ms")
    )
    picks = []
    for rnk in range(1, k + 1):
        top = (
            state.select("__id", "__v", "__rel", score.alias("__sc"))
            .orderBy(F.col("__sc").desc(), F.col("__id"))
            .limit(1)
            .collect()
        )
        if not top:
            break  # corpus exhausted before k
        row = top[0]
        picks.append((rnk, row["__id"], row["__rel"], row["__sc"]))
        pv = F.array(*[F.lit(float(x)) for x in row["__v"]])
        state = state.where(F.col("__id") != F.lit(row["__id"])).select(
            "__id",
            "__v",
            "__rel",
            F.greatest(
                F.coalesce(F.col("__ms"), F.lit(_NEG)),
                cosine(F.col("__v"), pv),
            ).alias("__ms"),
        )
        # bounded-lineage checkpoint: every 4th round (see module doc)
        if rnk % 4 == 0:
            state = stage_materialize(state)
    return spark.createDataFrame(
        picks, f"rnk int, {id_col} {id_type}, relevance double, score double"
    )
