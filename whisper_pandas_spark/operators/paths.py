"""Event-path analytics: Markov transition matrices over user streams.

`transition_matrix` — the product-analytics companion to the funnel
operator (operators/funnel.py measures ONE prescribed path; this
measures ALL observed steps): order each user's events in time, pair
every event with its successor via `lead`, and aggregate (src, dst)
step counts into an empirical first-order Markov transition matrix
with per-source totals and probabilities.

Determinism (oracle-parity): ordering ties on the timestamp are broken
by the event id, so the lead pairing is total-ordered; counts are exact
integers and each probability is ONE IEEE division of two BIGINTs —
bit-identical across engines (same discipline as collocation lift).

Scale: one window over the per-user partitioning every sessionization
operator here uses (skew ceiling = events per user), then one
vocabulary-sized groupBy (|event types|^2 keys) with map-side partials.
The per-source totals re-aggregate the tiny transition table itself —
never the raw events — and join back broadcast-sized. Nothing is
O(events^2).

Reference scope note: whisper_pandas.py (1-299) has no event-sequence
surface; this extends the engine's pipeline family (funnel, SCD2,
sessionization) with the transition-graph view.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.stage import stage_materialize


def transition_matrix(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    state_col: str,
    *,
    tiebreak_col: str,
) -> DataFrame:
    """Empirical (src, dst, n, n_src, p) transition table.

    `p` = n / n_src, the conditional probability of stepping src->dst.
    Rows order by (src, dst) for a stable result.
    """
    w = Window.partitionBy(entity_col).orderBy(time_col, tiebreak_col)
    steps = stage_materialize(
        df.select(
            F.col(state_col).alias("src"),
            F.lead(state_col).over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        # |states|^2-sized; materialize so the per-source totals below
        # re-aggregate THIS table instead of re-running the raw window.
    )
    totals = steps.groupBy(F.col("src").alias("src2")).agg(
        F.sum("n").alias("n_src")
    )
    return (
        steps.join(F.broadcast(totals), steps.src == totals.src2)
        .select(
            "src",
            "dst",
            "n",
            "n_src",
            (F.col("n").cast("double") / F.col("n_src").cast("double")).alias("p"),
        )
        .orderBy("src", "dst")
    )
