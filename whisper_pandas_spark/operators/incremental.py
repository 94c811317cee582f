"""Incremental aggregate maintenance — keep an aggregate table current
from a stream of change rows without rescanning the base data.

The materialized-view-maintenance pattern every 100 TB warehouse runs
nightly: the full aggregate is built ONCE (`agg_state`), then each batch
of inserts/retractions folds in algebraically (`agg_apply`) — cost
proportional to the CHANGES, not the corpus. Composes with the CoW MERGE
family (operators/merge.py persists the state table; streaming/sink.py
feeds the change batches).

Algebra: ``count`` and ``sum`` are retractable (deletes subtract);
``min``/``max`` are only insert-monotone — a delete could expose a
second-smallest value the state no longer knows. Requesting min/max
together with a delete column therefore raises ``ValueError`` up front
(the honest contract; the standard workarounds — per-group histograms or
re-aggregating touched groups from base — are a different cost class).
Retraction rows carry the same measure values as the rows they retract
(CDC retract-stream semantics); groups whose live-row count reaches zero
drop out of the state entirely, so state == rebuild from scratch at
every step (asserted by tests and the `incr_agg_orders` oracle).

Scale shape: one partial-agg exchange over the CHANGE batch, then one
key-equi join against the state (sort-merge on the state's key
partitioning; bucket the state table on the keys to elide its exchange —
sources/bucketed.py). Nothing touches base rows.

No reference parity: whisper_pandas has no materialized aggregates; this
backs SURVEY §2.11 pipeline engineering next to MERGE/SCD2/snapshot-diff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RETRACTABLE = ("count", "sum")
_SUPPORTED = ("count", "sum", "min", "max")


def _validate(measures: dict[str, tuple[str, ...]], retract: bool) -> None:
    if not measures:
        raise ValueError("measures must be non-empty")
    for col, aggs in measures.items():
        for agg in aggs:
            if agg not in _SUPPORTED:
                raise ValueError(
                    f"unsupported aggregate {agg!r} (use {_SUPPORTED})"
                )
            if retract and agg not in _RETRACTABLE:
                raise ValueError(
                    f"{agg}({col}) is not retractable: min/max cannot be "
                    "maintained under deletes (a retraction may expose a "
                    "value the state no longer holds) — rebuild with "
                    "agg_state or drop the delete column"
                )
        if retract and "sum" in aggs and "count" not in aggs:
            raise ValueError(
                f"sum({col}) under retraction requires count({col}) in the "
                "same state: the per-column non-null count is the liveness "
                "ledger that lets the maintained sum return to NULL when "
                "retractions remove every non-null row of a group "
                "(state == rebuild invariant)"
            )


def agg_state(
    df: DataFrame,
    keys: tuple[str, ...],
    measures: dict[str, tuple[str, ...]],
) -> DataFrame:
    """Build the aggregate state table:
    (keys..., __n BIGINT, <col>_<agg> ... per requested measure).

    ``__n`` is the live-row count per group — the liveness ledger that
    lets `agg_apply` drop emptied groups."""
    _validate(measures, retract=False)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for col, fns in measures.items():
        for agg in fns:
            c = F.col(col)
            expr = {
                "count": F.count(c),
                "sum": F.sum(c),
                "min": F.min(c),
                "max": F.max(c),
            }[agg]
            aggs.append(expr.alias(f"{col}_{agg}"))
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def agg_apply(
    state: DataFrame,
    changes: DataFrame,
    keys: tuple[str, ...],
    measures: dict[str, tuple[str, ...]],
    delete_col: str | None = None,
) -> DataFrame:
    """Fold a batch of change rows into the state table and return the
    NEW state (same schema as `agg_state`; the caller persists it, e.g.
    via operators/merge.py versioned writes).

    ``delete_col`` (boolean) marks retractions; a retraction carries the
    measure values of the row it removes. Without a delete column every
    change row is an insert. Batching is associative: applying two
    batches equals applying their union (tests pin this)."""
    retract = delete_col is not None
    _validate(measures, retract=retract)
    sign = (
        F.when(F.col(delete_col), F.lit(-1)).otherwise(F.lit(1))
        if retract
        else F.lit(1)
    )
    delta_aggs = [F.sum(sign).alias("__dn")]
    for col, fns in measures.items():
        c = F.col(col)
        for agg in fns:
            name = f"{col}_{agg}"
            if agg == "count":
                delta_aggs.append(
                    F.sum(F.when(c.isNotNull(), sign).otherwise(F.lit(0))).alias(
                        f"__d_{name}"
                    )
                )
            elif agg == "sum":
                delta_aggs.append(F.sum(c * sign).alias(f"__d_{name}"))
            elif agg == "min":
                delta_aggs.append(F.min(c).alias(f"__d_{name}"))
            else:
                delta_aggs.append(F.max(c).alias(f"__d_{name}"))
    delta = changes.groupBy(*[F.col(k) for k in keys]).agg(*delta_aggs)

    joined = state.join(delta, list(keys), "full_outer")
    out_cols = [F.col(k) for k in keys]
    new_n = F.coalesce("__n", F.lit(0)) + F.coalesce("__dn", F.lit(0))
    out_cols.append(new_n.alias("__n"))
    for col, fns in measures.items():
        for agg in fns:
            name = f"{col}_{agg}"
            cur, d = F.col(name), F.col(f"__d_{name}")
            if agg in ("count", "sum"):
                base = F.coalesce(cur, F.lit(0))
                merged = base + F.coalesce(d, F.lit(0))
                if agg == "sum":
                    if "count" in fns:
                        # exact liveness: the maintained non-null count for
                        # this column reaches 0 <=> rebuild's sum is NULL
                        # (covers retractions emptying the non-null rows of
                        # a group whose null-measure rows keep __n > 0)
                        live = F.coalesce(
                            F.col(f"{col}_count"), F.lit(0)
                        ) + F.coalesce(F.col(f"__d_{col}_count"), F.lit(0))
                        merged = F.when(live == 0, F.lit(None)).otherwise(
                            merged
                        )
                    else:
                        # insert-only path (retraction requires the count —
                        # _validate): an all-null group's sum stays NULL
                        merged = F.when(
                            cur.isNull() & d.isNull(), F.lit(None)
                        ).otherwise(merged)
                out_cols.append(merged.alias(name))
            elif agg == "min":
                out_cols.append(F.least(cur, d).alias(name))
            else:
                out_cols.append(F.greatest(cur, d).alias(name))
    return joined.select(*out_cols).filter(F.col("__n") > 0)


# -- incremental JOIN-view maintenance ----------------------------------------
#
# The join companion to agg_state/agg_apply above: keep a materialized
# equi-join view V = A join B current under change batches to either
# side WITHOUT rescanning the full inputs. The maintenance rule is the
# standard key-scoped delete+insert (partial recompute): a change to
# key k can only affect view rows with join key k, so
#
#   touched = keys(dA) + keys(dB)
#   slice   = (A' semi touched) join (B' semi touched)
#   V'      = (V anti touched) + slice
#
# Exact for ANY key multiplicity (fact-dim or many-to-many) — no
# retraction bookkeeping, no double-count corrections. Cost is
# proportional to the TOUCHED keys' data, not the corpus; with A/B/V
# partitioned or bucketed on the join key the semi/anti joins prune to
# the touched partitions. Touched-key frames broadcast (change batches
# are small by contract, like the MERGE family).


def join_view_touched(
    a_changes: DataFrame | None,
    b_changes: DataFrame | None,
    join_key: str,
) -> DataFrame:
    """Distinct join keys affected by a pair of change batches (either
    side may be None). The caller must ensure the batches carry the
    join key of EVERY affected row — including the PRIOR key of a row
    whose update moved it between join keys (else the old key's stale
    view rows survive); deletes carry the key they remove."""
    parts = [
        c.select(F.col(join_key)) for c in (a_changes, b_changes) if c is not None
    ]
    if not parts:
        raise ValueError("at least one change batch is required")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def join_view_slice(
    a_new: DataFrame,
    b_new: DataFrame,
    join_key: str,
    touched: DataFrame,
) -> DataFrame:
    """Fresh view rows for the touched join keys: semi-join-pruned
    A' join B' (the only join work a batch pays)."""
    ks = F.broadcast(touched.select(join_key).distinct())
    a_t = a_new.join(ks, join_key, "semi")
    b_t = b_new.join(ks, join_key, "semi")
    return a_t.join(b_t, join_key)


def join_view_apply(
    view: DataFrame,
    a_new: DataFrame,
    b_new: DataFrame,
    join_key: str,
    touched: DataFrame,
) -> DataFrame:
    """New view state: drop every row whose join key was touched, add
    the recomputed slice. Keys whose match disappeared (a side's rows
    deleted) simply contribute no slice rows — deletion falls out of
    the anti-join."""
    ks = F.broadcast(touched.select(join_key).distinct())
    survivors = view.join(ks, join_key, "left_anti")
    return survivors.unionByName(
        join_view_slice(a_new, b_new, join_key, touched)
    )
