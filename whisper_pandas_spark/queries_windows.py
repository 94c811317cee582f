"""Registry entries: window functions (SURVEY.md §2.6) and the event
analytics built on them — funnels, cohorts, path transitions,
multi-touch attribution and A/B reports.

All window orderings include a unique tiebreaker (event_id / orderkey) so
results are deterministic on both engines; RANGE frames order by epoch
seconds on both sides so peer groups agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, replay, table
from whisper_pandas_spark.stage import stage_materialize


@register(
    "window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the canonical top-k-per-group pattern
    (one shuffle on the partition key; no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "window_rank_dense",
    oracle="""
SELECT c_mktsegment, c_custkey, c_acctbal,
       rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk,
       dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS drnk,
       ntile(4)     OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS quartile
FROM customer
ORDER BY c_mktsegment, rnk
""",
)
def window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over a partition."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    return (
        table(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("c_mktsegment", "rnk")
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT event_id, user_id,
       round(value - lag(value) OVER w, 6) AS delta_prev,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
""",
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics per user timeline."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .orderBy("event_id")
    )


@register(
    "window_running_sum",
    oracle="""
SELECT event_id, user_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_total
FROM events
ORDER BY event_id
""",
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per user (ROWS frame, unique tiebreak)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.round(F.sum("value").over(w), 6).alias("running_total"))
        .orderBy("event_id")
    )


@register(
    "window_moving_avg_time",
    oracle="""
SELECT event_id, user_id,
       round(avg(value) OVER (PARTITION BY user_id
                              ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6)
         AS avg_1h
FROM events
ORDER BY event_id
""",
)
def window_moving_avg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based moving average (RANGE frame over epoch seconds) — the
    natural generalization of the reference's fixed-resolution rollups to
    sliding windows."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("avg_1h"))
        .orderBy("event_id")
    )


@register(
    "window_first_last",
    oracle="""
SELECT user_id,
       min(ts_e) AS first_seen_epoch,
       max(ts_e) AS last_seen_epoch,
       count(*) AS n
FROM (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_e FROM events)
GROUP BY user_id
ORDER BY user_id
""",
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last observation per key (min/max over epoch)."""
    return (
        table(spark, sf_dir, "events")
        .select("user_id", F.unix_timestamp("ts").alias("ts_e"))
        .groupBy("user_id")
        .agg(
            F.min("ts_e").alias("first_seen_epoch"),
            F.max("ts_e").alias("last_seen_epoch"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("user_id")
    )


@register(
    "window_sliding_avg",
    oracle="""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value FROM events
), fanout AS (
  SELECT user_id, value, unnest(generate_series(
           CAST(ceil((ep - 3600 + 1) / 900.0) AS BIGINT) * 900,
           (ep // 900) * 900, 900)) AS win_start
  FROM e
)
SELECT to_timestamp(win_start)::TIMESTAMP AS win_start,
       count(*) AS n_events,
       round(avg(value), 6) AS avg_value
FROM fanout
GROUP BY win_start
ORDER BY win_start
""",
)
def window_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: sliding tumbling windows (1 h length, 15 min slide) over the
    event stream — ``F.window(ts, '1 hour', '15 minutes')``. Spark fans
    each row out to length/slide windows before the single groupBy
    shuffle (the oracle replicates the fan-out with generate_series)."""
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy(win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n_events", "avg_value")
        .orderBy("win_start")
    )


@register(
    "window_session_agg",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0
         END AS new_session
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 6) AS total_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: session windows (30 min inactivity gap) per user —
    ``F.session_window``. The oracle is the classic gaps-and-islands SQL,
    an INDEPENDENT algorithm that must agree session-for-session.
    session_start is min(ts) (engine-neutral; Spark's window.start equals
    it for event-time sessions)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    )


@register(
    "window_ntile_quartiles",
    oracle="""
WITH t AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS quartile
  FROM orders
)
SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(cents) AS BIGINT) AS min_cents,
       CAST(max(cents) AS BIGINT) AS max_cents
FROM t GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
""",
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: ntile bucketing — per-priority price quartiles summarized.
    The tie-break on (price, orderkey) makes the ntile assignment total,
    so both engines agree row-for-row; one window exchange + one
    partial-agged rollup."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    t = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return (
        t.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS step, 'view' AS step_name,
         (SELECT count(*) FROM s1) AS users_reached
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
) ORDER BY step
""",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y22: ordered-sequence funnel (operators/funnel.py) — users who
    viewed, then clicked, then purchased, each step strictly after the
    previous greedy match and inside a 7-day conversion window. Spark
    runs it as chained conditional windows over ONE user_id exchange;
    the oracle replays the same greedy-earliest semantics as cascaded
    min-joins."""
    from whisper_pandas_spark.operators.funnel import funnel_counts

    ev = table(spark, sf_dir, "events")
    return funnel_counts(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], within_seconds=7 * 86400,
    )


# -- cohort retention, driver-verified ------------------------------------------

_COHORT_B = 86400  # daily buckets: 2 cohorts x ~30 offsets on this fixture


@register(
    "cohort_retention_daily",
    oracle=f"""
WITH act AS (
  SELECT DISTINCT user_id AS u,
         (floor(epoch(ts))::BIGINT // {_COHORT_B}) AS b
  FROM events WHERE ts IS NOT NULL
), fs AS (
  SELECT u, min(b) AS cohort FROM act GROUP BY u
), per AS (
  SELECT f.cohort, a.b - f.cohort AS "offset", count(*) AS n_active
  FROM act a JOIN fs f USING (u) GROUP BY 1, 2
), sz AS (
  SELECT cohort, count(*) AS cohort_size FROM fs GROUP BY cohort
)
SELECT p.cohort, p."offset",
       CAST(p.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       round(CAST(p.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
             + 1e-9, 6) AS retention
FROM per p JOIN sz s USING (cohort)
ORDER BY p.cohort, p."offset"
""",
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11+: cohort retention (operators/cohort.py) — users bucketed
    by first-seen day over the events log, per-(cohort, day-offset)
    active counts and retention fractions: the growth-dashboard
    retention triangle, as two user-keyed partial aggregations + one
    user join (no windows, no Python). Integer counts make the oracle
    trivially exact; the fraction divides the same BIGINTs on both
    sides."""
    from whisper_pandas_spark.operators.cohort import cohort_retention

    ev = table(spark, sf_dir, "events")
    out = cohort_retention(ev, "user_id", "ts", _COHORT_B)
    eps = F.lit(1e-9)
    return out.select(
        "cohort",
        "offset",
        "n_active",
        "cohort_size",
        F.round(F.col("retention") + eps, 6).alias("retention"),
    ).orderBy("cohort", "offset")


# -- event-path transition matrix -----------------------------------------------


@register(
    "path_transition_matrix",
    oracle="""
WITH ordered AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
), tr AS (
  SELECT src, dst, count(*) AS n FROM ordered
  WHERE dst IS NOT NULL GROUP BY src, dst
), tot AS (SELECT src AS src2, sum(n) AS n_src FROM tr GROUP BY src)
SELECT tr.src, tr.dst, CAST(tr.n AS BIGINT) AS n,
       CAST(tot.n_src AS BIGINT) AS n_src,
       CAST(tr.n AS DOUBLE) / CAST(tot.n_src AS DOUBLE) AS p
FROM tr JOIN tot ON tot.src2 = tr.src
ORDER BY src, dst
""",
)
def path_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: empirical Markov transition matrix over user event streams
    (operators/paths.py:transition_matrix) — the all-paths complement
    to the prescribed-path funnel. Per-user time order with the event
    id as a total-order tie-break; counts exact, each probability one
    IEEE division of two BIGINTs."""
    from whisper_pandas_spark.operators.paths import transition_matrix

    ev = table(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


# -- percent_rank / cume_dist window family ------------------------------------------


@register(
    "window_pct_rank_dist",
    oracle="""
SELECT c_custkey, c_mktsegment,
       CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey)
ORDER BY c_custkey
""",
)
def window_pct_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+: relative-rank analytics — percent_rank ((rank-1)/(n-1)) and
    cume_dist (peers-or-below / n) per market segment over integer
    cents, custkey as the total-order tie-break. Both are single IEEE
    divisions of exact integers; completes the ranking window family
    (rank/dense_rank/row_number/ntile already covered)."""
    c = table(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("cents", "c_custkey")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "cents",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("c_custkey")
    )


# -- gaps-and-islands streaks ---------------------------------------------------


@register(
    "window_gaps_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
r AS (
  SELECT user_id, d,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM days
),
s AS (
  SELECT user_id, d - CAST(rn AS INT) AS g, count(*) AS len,
         min(d) AS streak_start
  FROM r GROUP BY user_id, d - CAST(rn AS INT)
),
m AS (
  SELECT user_id, g, len, streak_start,
         max(len) OVER (PARTITION BY user_id) AS ml
  FROM s
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(min(ml) AS BIGINT) AS max_streak,
       min(CASE WHEN len = ml THEN streak_start END) AS max_streak_start
FROM m GROUP BY user_id
ORDER BY user_id
""",
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6+: gaps-and-islands — per-user consecutive-active-day streaks
    via the classic date-minus-row_number island key (consecutive days
    share `d - rn`), then per-user streak stats: active days, streak
    count, longest streak, and the start date of the EARLIEST longest
    streak (deterministic tie-break).  All integer/date arithmetic.
    Plan: ONE exchange on user_id serves the distinct, the row_number
    window, both group-bys, and the max window — every downstream key
    set contains user_id, so Catalyst reuses the partitioning
    end-to-end (no second shuffle at any scale)."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    days = (
        ev.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "g", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("d").alias("streak_start"),
    )
    ml = F.max("len").over(Window.partitionBy("user_id"))
    m = streaks.withColumn("ml", ml)
    return (
        m.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.count(F.lit(1)).alias("n_streaks"),
            F.min("ml").alias("max_streak"),
            F.min(
                F.when(F.col("len") == F.col("ml"), F.col("streak_start"))
            ).alias("max_streak_start"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# attr_multitouch_linear
# ---------------------------------------------------------------------------

#: Attribution lookback window (days before the conversion).
_ATTR_LOOKBACK_DAYS = 3
#: Credit per conversion, in parts-per-million (exact integer split).
_ATTR_PPM = 1_000_000

_ATTR_ORACLE = f"""
WITH conv AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts,
    CAST(round(value * 100) AS BIGINT) AS val_cents
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click', 'signup')
), pairs AS (
  SELECT c.p_id, c.val_cents, t.t_id, t.touch_type,
    row_number() OVER (PARTITION BY c.p_id ORDER BY t.t_ts, t.t_id) AS rn,
    count(*) OVER (PARTITION BY c.p_id) AS n
  FROM conv c JOIN touch t ON c.user_id = t.user_id
    AND t.t_ts < c.p_ts
    AND t.t_ts >= c.p_ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY
), credited AS (
  SELECT touch_type, p_id, val_cents,
    {_ATTR_PPM} // n
      + CASE WHEN rn = 1 THEN {_ATTR_PPM} % n ELSE 0 END AS ppm
  FROM pairs
), direct AS (
  SELECT '(none)' AS touch_type, p_id, val_cents,
    {_ATTR_PPM} AS ppm
  FROM conv WHERE p_id NOT IN (SELECT p_id FROM pairs)
), unioned AS (
  SELECT * FROM credited UNION ALL SELECT * FROM direct
)
SELECT touch_type,
  CAST(count(*) AS BIGINT) AS n_credits,
  CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions,
  CAST(sum(ppm) AS BIGINT) AS credit_ppm,
  CAST(sum(ppm * val_cents) AS BIGINT) AS rev_credit
FROM unioned GROUP BY touch_type ORDER BY touch_type
"""


@register("attr_multitouch_linear", oracle=_ATTR_ORACLE)
def attr_multitouch_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y173: multi-touch attribution — the marketing-analytics family
    the registry lacked (funnel/path entries count SEQUENCES; nothing
    distributed conversion CREDIT). Linear model with an exact integer
    split: each purchase's 10^6 ppm divide evenly over its lookback
    touches (floor), remainder to the EARLIEST touch (ts, event_id
    total order) — so credit conserves exactly: sum(ppm) = 10^6 x
    conversions, a property the hash gate re-proves every run.
    Untouched conversions credit a '(none)' direct bucket (never
    silently dropped). Revenue weighting is ppm x value_cents — all
    BIGINT. Plan: ONE user-keyed interval join (per-user blocks are
    human-bounded, the as-of doctrine) + one per-conversion window +
    one map-side-combined agg; at 100 TB shuffle keys are (user_id)
    then (p_id) — ids and cents only, never props payloads."""
    ev = table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    touch = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )

    pairs = conv.join(touch, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts")
            - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAY")
        )
    )
    w = Window.partitionBy("p_id")
    credited = pairs.select(
        "touch_type",
        "p_id",
        "val_cents",
        F.row_number()
        .over(w.orderBy(F.col("t_ts"), F.col("t_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).select(
        "touch_type",
        "p_id",
        "val_cents",
        (
            F.expr(f"{_ATTR_PPM} div n")
            + F.when(
                F.col("rn") == 1, F.expr(f"{_ATTR_PPM} % n")
            ).otherwise(F.lit(0))
        ).alias("ppm"),
    )
    direct = conv.join(
        pairs.select("p_id").distinct(), "p_id", "left_anti"
    ).select(
        F.lit("(none)").alias("touch_type"),
        "p_id",
        "val_cents",
        F.lit(_ATTR_PPM).cast("bigint").alias("ppm"),
    )
    return (
        credited.unionByName(direct)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.countDistinct("p_id").cast("bigint").alias("n_conversions"),
            F.sum("ppm").cast("bigint").alias("credit_ppm"),
            F.sum(F.col("ppm") * F.col("val_cents"))
            .cast("bigint")
            .alias("rev_credit"),
        )
        .orderBy("touch_type")
    )


# ---------------------------------------------------------------------------
# stream_attr_replay
# ---------------------------------------------------------------------------


@register("stream_attr_replay", oracle=_ATTR_ORACLE)
def stream_attr_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+/Y179: STREAMING attribution (streaming/attribution.py) —
    purchases arrive in 4 micro-batches and credit against the static
    touch store through the batch entry's arithmetic verbatim; the
    credits state upserts idempotently on p_id. Credit is a pure
    per-conversion function, so batching commutes and the batch
    entry's oracle checks the streaming face VERBATIM; the second
    pass (fresh checkpoint, full re-delivery) proves unchanged state.
    Credit conservation (sum ppm = 10^6 x conversions) survives the
    stream by construction — each conversion's split lands atomically
    in one batch."""
    from whisper_pandas_spark.streaming.attribution import (
        attribution_read_off,
        stream_attribution,
    )

    ev = table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    touch = stage_materialize(
        ev.filter(F.col("event_type").isin("view", "click", "signup")).select(
            F.col("event_id").alias("t_id"),
            "user_id",
            F.col("ts").alias("t_ts"),
            F.col("event_type").alias("touch_type"),
        )
    )
    bounds = conv.agg(
        F.min("p_id").alias("lo"), F.max("p_id").alias("hi")
    ).collect()[0]
    step = max(1, (int(bounds["hi"]) - int(bounds["lo"])) // 4 + 1)
    frames = []
    for i in range(4):
        lo = int(bounds["lo"]) + i * step
        cond = F.col("p_id") >= lo
        if i < 3:
            cond = cond & (F.col("p_id") < lo + step)
        frames.append(conv.filter(cond))
    d = replay(
        spark,
        frames,
        lambda sdf, d, ckpt: stream_attribution(
            sdf,
            touch,
            f"{d}/state",
            _ATTR_LOOKBACK_DAYS,
            _ATTR_PPM,
            checkpoint_dir=ckpt,
        ),
        passes=2,
    )
    return attribution_read_off(spark, f"{d}/state")


# ---------------------------------------------------------------------------
# ab_experiment_report
# ---------------------------------------------------------------------------

_AB_SEED = 42
#: chi-square scale (statistic reported as floor(chi2 * 1e6)).
_AB_SCALE = 1_000_000
#: 3.841 * 1e6 — the 95% critical value for 1 df, in scaled units.
_AB_CRIT = 3_841_000


def _ab_oracle() -> str:
    from whisper_pandas_spark.operators.sampling import duck_hash_bucket

    return f"""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), assigned AS (
  SELECT user_id,
    CASE WHEN ({duck_hash_bucket("user_id", _AB_SEED)}) % 2 = 0
         THEN 'control' ELSE 'treatment' END AS variant
  FROM users
), conv AS (
  SELECT user_id,
    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
), per_user AS (
  SELECT a.variant, a.user_id,
    CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS converted,
    coalesce(c.rev_cents, 0) AS rev_cents
  FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
), per_variant AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
    CAST(sum(converted) AS BIGINT) AS n_converted,
    CAST(sum(rev_cents) AS BIGINT) AS revenue_cents
  FROM per_user GROUP BY variant
), tot AS (
  SELECT CAST(sum(n_users) AS BIGINT) AS n,
    CAST(sum(CASE WHEN variant = 'control' THEN n_users ELSE 0 END)
         AS BIGINT) AS nc
  FROM per_variant
)
SELECT v.variant, v.n_users, v.n_converted,
  CAST(v.n_converted * {_AB_SCALE} // v.n_users AS BIGINT) AS conv_ppm,
  v.revenue_cents,
  CAST((2 * t.nc - t.n) * (2 * t.nc - t.n) * {_AB_SCALE} // t.n
       AS BIGINT) AS srm_chi2_x1e6,
  CAST((2 * t.nc - t.n) * (2 * t.nc - t.n) * {_AB_SCALE} // t.n
       >= {_AB_CRIT} AS INT) AS srm_flag
FROM per_variant v CROSS JOIN tot t
ORDER BY v.variant
"""


@register("ab_experiment_report", oracle=_ab_oracle())
def ab_experiment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y182: experimentation analytics — the A/B family the registry
    lacked (hash splits existed for train/test, but nothing computed
    an EXPERIMENT READOUT): deterministic 50/50 user assignment via
    the engine-portable md5 bucket, per-variant conversion and
    revenue (exact cents), conversion rate in exact ppm (floor div),
    and the sample-ratio-mismatch guardrail as an EXACT-INTEGER
    chi-square — for two buckets chi2 = (2*n_c - N)^2 / N, reported
    as floor(chi2 * 10^6) with the 1-df 95% critical value pinned as
    a literal, so the srm_flag verdict is pure BIGINT arithmetic the
    oracle replays (no float distribution code anywhere). Plan: one
    distinct, one purchase aggregate, a broadcast-sized variant
    census; nothing corpus-sized past the first aggregates."""
    from whisper_pandas_spark.operators.sampling import hash_bucket

    ev = table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    assigned = users.select(
        "user_id",
        F.when(hash_bucket(F.col("user_id"), _AB_SEED) % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    per_user = assigned.join(conv, "user_id", "left").select(
        "variant",
        F.when(F.col("rev_cents").isNull(), 0).otherwise(1).alias(
            "converted"
        ),
        F.coalesce(F.col("rev_cents"), F.lit(0)).alias("rev_cents"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.sum("rev_cents").cast("bigint").alias("revenue_cents"),
    )
    tot = per_variant.agg(
        F.sum("n_users").cast("bigint").alias("n"),
        F.sum(
            F.when(F.col("variant") == "control", F.col("n_users")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("nc"),
    )
    chi2 = F.expr(
        f"(2 * nc - n) * (2 * nc - n) * {_AB_SCALE} div n"
    ).cast("bigint")
    return (
        per_variant.crossJoin(F.broadcast(tot))
        .select(
            "variant",
            "n_users",
            "n_converted",
            F.expr(f"n_converted * {_AB_SCALE} div n_users")
            .cast("bigint")
            .alias("conv_ppm"),
            "revenue_cents",
            chi2.alias("srm_chi2_x1e6"),
            (chi2 >= _AB_CRIT).cast("int").alias("srm_flag"),
        )
        .orderBy("variant")
    )
