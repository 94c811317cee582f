"""Item-item collaborative filtering from co-occurrence counts.

`item_similarity_topk` — the classic item-based CF recommender
(Sarwar et al. 2001; Linden et al.'s Amazon item-to-item paper): items
are vectors over the baskets that contain them, similarity is the
cosine of those incidence vectors, which reduces to pure counts —

    sim(i, j) = c_ij / sqrt(c_i * c_j)

with c_ij = #baskets containing both and c_i = #baskets containing i.
Per item, the top-k most similar co-occurring items.

Determinism (oracle-parity): all counts are exact integers; the score
is sqrt of an exact product (< 2^53 by the BIGINT-count contract, so
the double is the true integer) followed by one division — two IEEE
ops in fixed order, bit-identical across engines. Ranking ties break
(sim desc, c_ij desc, neighbor asc).

Scale: the basket self-join is the one superlinear step — bounded by
sum-of-squares of basket sizes, the standard market-basket shape
(baskets are orders/sessions: tens of items, never millions). The
in-operator ``max_basket`` guard drops mega-baskets BEFORE the
self-join (same recall-only contract as the dedup family's ``max_df``:
a dropped basket only removes co-occurrence evidence, it can never
invent a pair — bot sessions / catalog-wide "baskets" are noise for CF
anyway, the same argument as stop-shingles). Everything after is
vocabulary-sized: item counts, pair counts (map-side combinable), a
broadcast join of the item-count table, and a per-item
WindowGroupLimit top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.stage import stage_materialize


def item_similarity_topk(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    *,
    k: int = 5,
    min_pairs: int = 1,
    max_basket: int | None = 10_000,
) -> DataFrame:
    """(item, neighbor, c_ij, c_i, c_j, sim, rnk) — top-`k` cosine
    neighbors per item over basket co-occurrence; pairs below
    `min_pairs` co-occurrences are dropped before ranking.

    ``max_basket`` drops baskets with more distinct items than the cap
    BEFORE the self-join AND before the item counts (so c_i / c_ij stay
    a consistent cosine over the retained baskets). Recall-only: a
    dropped mega-basket removes evidence, never invents a pair — the
    Σ(basket²) blow-up guard the dedup family's ``max_df`` provides for
    shingles. ``None`` disables."""
    inc = baskets.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("item")
    ).distinct()
    if max_basket is not None:
        if max_basket < 2:
            raise ValueError("max_basket must be >= 2 (or None)")
        bsz = inc.groupBy("b").agg(F.count(F.lit(1)).alias("__n"))
        inc = (
            inc.join(bsz.where(F.col("__n") <= max_basket), "b")
            .drop("__n")
        )
    item_cnt = stage_materialize(
        inc.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    )
    a = inc.select(F.col("b").alias("b"), F.col("item").alias("i"))
    bb = inc.select(F.col("b").alias("b"), F.col("item").alias("j"))
    pairs = (
        a.join(bb, "b")
        .where(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c_ij"))
        .where(F.col("c_ij") >= min_pairs)
    )
    ci = item_cnt.select(F.col("item").alias("i"), F.col("c").alias("c_i"))
    cj = item_cnt.select(F.col("item").alias("j"), F.col("c").alias("c_j"))
    scored = (
        pairs.join(F.broadcast(ci), "i")
        .join(F.broadcast(cj), "j")
        .withColumn(
            "sim",
            F.col("c_ij").cast("double")
            / F.sqrt((F.col("c_i") * F.col("c_j")).cast("double")),
        )
    )
    w = Window.partitionBy("i").orderBy(
        F.desc("sim"), F.desc("c_ij"), F.asc("j")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            "c_ij",
            "c_i",
            "c_j",
            "sim",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
