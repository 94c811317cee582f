"""Deterministic negative sampling for contrastive / recommender training.

`negative_samples` — for every user in an interaction log, k items the
user did NOT interact with, drawn pseudo-randomly but DETERMINISTICALLY
from the engine's cross-engine md5 hash family (functions/hashing.py): the
i-th candidate for user u is `base_hash32(u || ':' || i) mod n_items`.
Candidates that collide with a real interaction (or repeat an earlier
candidate) are discarded and the oversampled tail fills the gap — the
standard rejection-sampling recipe for implicit-feedback negatives
(BPR, Rendle et al. 2009; word2vec negative sampling), made replayable:
the same (user, i) always yields the same item on any engine, so a SQL
oracle reproduces every sampled row bit-for-bit — and so does a re-run
after a retry, which keeps training data stable across pipeline
restarts.

Scale: the candidate table is |users| × k·oversample rows built by one
`sequence` explode (no Python), the rejection is ONE left-anti join
against the distinct interaction pairs keyed on (user, item), and the
per-user fill/rank is one window over k·oversample rows per user —
constant per user. Nothing is O(|users| × |items|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.functions.hashing import base_hash32


def negative_samples(
    interactions: DataFrame,
    user_col: str,
    item_col: str,
    n_items: int,
    *,
    k: int = 5,
    oversample: int = 4,
    seed: int = 0,
    item_dim: DataFrame | None = None,
    item_index_col: str = "item_index",
) -> DataFrame:
    """(user, item, rnk) — k non-interacted items per user, rnk = 1..k
    in candidate order. Users whose rejection survivors run out (< k
    after oversampling) keep the survivors they have; raise `oversample`
    for pathological users who interacted with most of the catalog.

    ID contract (round-8 advisory): candidates are generated as
    integers in ``[0, n_items)``, so WITHOUT ``item_dim`` the item
    column must be an integral type holding dense ids in that range —
    the dtype is checked eagerly and the range is enforced in-plan
    (``assert_true`` on the interaction scan: zero extra passes). A
    string or sparse catalog would otherwise silently type-coerce the
    anti-join, rejection would never fire, and "negatives" could be ids
    that don't exist. For such catalogs pass ``item_dim`` — a dimension
    table mapping ``item_index_col`` (dense 0..n_items-1) to
    ``item_col`` (the real id, any type); candidates are generated as
    indices and broadcast-mapped to real ids BEFORE rejection, and the
    output carries real ids."""
    if n_items < 1:
        raise ValueError("n_items must be >= 1")
    if item_dim is None:
        dtype = interactions.schema[item_col].dataType.simpleString()
        if dtype not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"item column {item_col!r} is {dtype}: dense-id negative "
                "sampling needs an integral 0..n_items-1 catalog — pass "
                "item_dim to map generated indices to real item ids"
            )
    users = interactions.select(F.col(user_col).alias("user")).distinct()
    cand = users.select(
        "user",
        F.explode(F.sequence(F.lit(1), F.lit(k * oversample))).alias("i"),
    ).withColumn(
        "item",
        F.pmod(
            base_hash32(
                F.concat(
                    F.lit(f"{seed}:"),
                    F.col("user").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            F.lit(n_items),
        ),
    )
    if item_dim is not None:
        dim = item_dim.select(
            F.col(item_index_col).cast("long").alias("item"),
            F.col(item_col).alias("__real"),
        )
        # inner broadcast join: an index with no dim row (n_items larger
        # than the catalog) simply yields no candidate
        cand = (
            cand.join(F.broadcast(dim), "item")
            .select("user", "i", F.col("__real").alias("item"))
        )
    # drop duplicate candidate items per user (keep the earliest i)
    wdup = Window.partitionBy("user", "item").orderBy("i")
    cand = (
        cand.withColumn("__rn", F.row_number().over(wdup))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    item_val = F.col(item_col)
    if item_dim is None:
        # in-plan dense-range enforcement: rides the existing scan, no
        # extra pass; fires on the first out-of-range interaction id
        chk = F.assert_true(
            (item_val >= 0) & (item_val < n_items),
            F.concat(
                F.lit(
                    f"negative_samples: interaction {item_col} out of the "
                    f"dense [0, {n_items}) id range (got "
                ),
                item_val.cast("string"),
                F.lit(") — pass item_dim for sparse/non-integer catalogs"),
            ),
        )
        item_val = F.when(chk.isNull(), F.col(item_col))
    pos = interactions.select(
        F.col(user_col).alias("user"), item_val.alias("item")
    ).distinct()
    neg = cand.join(pos, ["user", "item"], "left_anti")
    wfill = Window.partitionBy("user").orderBy("i")
    return (
        neg.withColumn("rnk", F.row_number().over(wfill))
        .where(F.col("rnk") <= k)
        .select("user", "item", "rnk")
    )
