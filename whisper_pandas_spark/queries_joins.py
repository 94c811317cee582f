"""Registry entries: join family (SURVEY.md §2.5) — equi joins in every
flavor, multiway star joins, the TPC-H-shaped ``join_q*ish`` set, range,
as-of and point-in-time joins.

Scale notes: dimension sides (customer/nation/region/supplier) are
broadcast — at TPC-H shapes the fact side is 4-6 orders of magnitude
larger, so a shuffle join would move the fact table for nothing. The
range/as-of joins use the bucketed / union-window formulations from
:mod:`whisper_pandas_spark.operators.asof` — no nested-loop joins anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.operators.asof import asof_join, range_join
from whisper_pandas_spark.stage import stage_materialize


@register(
    "join_inner_revenue",
    oracle="""
SELECT c_name, round(sum(o_totalprice), 6) AS total_spend, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY c_name
""",
)
def join_inner_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join fact→dim with the dim broadcast."""
    o = table(spark, sf_dir, "orders")
    c = F.broadcast(table(spark, sf_dir, "customer"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 6).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_name")
    )


@register(
    "join_left_order_counts",
    oracle="""
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
ORDER BY c_custkey
""",
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    oracle="""
SELECT coalesce(a.k, b.k) AS k, a.n_orders, b.n_events
FROM (SELECT o_custkey AS k, count(*) AS n_orders FROM orders GROUP BY 1) a
FULL OUTER JOIN
     (SELECT user_id AS k, count(*) AS n_events FROM events GROUP BY 1) b
ON a.k = b.k
ORDER BY k
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides."""
    a = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    b = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        a.join(b, "k", "full_outer")
        .select("k", "n_orders", "n_events")
        .orderBy("k")
    )


@register(
    "join_right_part_counts",
    oracle="""
SELECT p_partkey, count(l_orderkey) AS n_lineitems
FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey
ORDER BY p_partkey
""",
)
def join_right_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving parts with zero lineitems (§2.5 right).
    The preserved side is the smaller dim — at scale Spark/AQE flips this
    to a broadcast of `part` with the fact side streamed."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lineitems"))
        .orderBy("p_partkey")
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
ORDER BY c_custkey
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join ≡ EXISTS (no row duplication, right side never
    materialized into output)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 150000)
ORDER BY c_custkey
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join ≡ NOT EXISTS (customers with no large order)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_star_q3ish",
    oracle="""
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
       strftime(any_value(o_orderdate), '%Y-%m-%d %H:%M:%S') AS n_date
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def join_star_q3ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style multiway join: dim filter → broadcast → fact-fact
    shuffle join on the order key → agg → top-k."""
    c = F.broadcast(
        table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    )
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("revenue"),
            F.date_format(F.any_value("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "n_date"
            ),
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "join_range_pairs",
    oracle="""
SELECT e.event_id AS error_id, count(*) AS n_clicks_next_hour
FROM events e
JOIN events c
  ON e.user_id = c.user_id
 AND c.event_type = 'click'
 AND CAST(floor(epoch(c.ts)) AS BIGINT) >= CAST(floor(epoch(e.ts)) AS BIGINT)
 AND CAST(floor(epoch(c.ts)) AS BIGINT) <= CAST(floor(epoch(e.ts)) AS BIGINT) + 3600
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY e.event_id
""",
)
def join_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucket-equi-join + refine (operators/asof.py):
    clicks within one hour after each error, same user."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id").alias("eu"), F.col("ts").alias("ets")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    joined = range_join(
        errors,
        clicks,
        left_ts="ets",
        right_ts="cts",
        lower_seconds=0,
        upper_seconds=3600,
        bucket_seconds=3600,
        extra_condition=F.col("eu") == F.col("cu"),
    )
    # Exact second-level comparison to mirror the oracle's epoch() compare:
    # range_join already compares at second granularity via unix_timestamp.
    return (
        joined.groupBy("error_id")
        .agg(F.count(F.lit(1)).alias("n_clicks_next_hour"))
        .orderBy("error_id")
    )


@register(
    "join_asof",
    oracle="""
SELECT e.event_id, e.user_id, c.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
ORDER BY e.event_id
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest click value at-or-before each error, per user —
    the idiomatic time-series alignment (pd.merge_asof / DuckDB ASOF JOIN),
    implemented as ONE window pass over a union (operators/asof.py)."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(errors, clicks, on="user_id", value_cols=("value",), suffix="_x")
    return (
        out.select("event_id", "user_id", F.col("value_x").alias("value_asof"))
        .orderBy("event_id")
    )


@register(
    "join_asof_bucketed",
    oracle="""
SELECT e.event_id, e.user_id, c.value AS value_asof
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
ORDER BY e.event_id
""",
)
def join_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of join through the skew-immune plan: the carry window
    shuffles on (user_id, time-bucket) so one hot user can never pin a
    single task, with a tiny per-(key, bucket) spine window carrying
    values across bucket edges (operators/asof.py). Identical oracle to
    join_asof — sub-bucketing must be semantically invisible."""
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(
        errors, clicks, on="user_id", value_cols=("value",), suffix="_x",
        time_bucket_seconds=6 * 3600,
    )
    return (
        out.select("event_id", "user_id", F.col("value_x").alias("value_asof"))
        .orderBy("event_id")
    )


@register(
    "join_star_q10ish",
    oracle="""
SELECT c_custkey, any_value(n_name) AS nation,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def join_star_q10ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style returned-item report: which customers returned
    the most revenue — fact-fact join on the order key, nation dim
    broadcast, per-customer aggregate, top-20. Revenue folds per-row
    rounded values through DECIMAL(18,4) so the sum is exact and
    partition-order independent (the 1e-9 nudge breaks half-cent
    rounding ties identically on both engines)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = F.broadcast(table(spark, sf_dir, "nation"))
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) + F.lit(1e-9), 4
    ).cast("decimal(18,4)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey")
        .agg(
            F.any_value("n_name").alias("nation"),
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "join_star_q7ish",
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name
GROUP BY supp_nation, cust_nation, ship_year
ORDER BY supp_nation, cust_nation, ship_year
""",
)
def join_star_q7ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style volume-shipping report: cross-nation trade flows
    per ship year. Both nation dims broadcast (aliased twice), the
    lineitem-orders fact-fact join shuffles on the order key; the
    n1 < n2 predicate keeps each unordered nation pair once. DECIMAL
    revenue fold as in Q10."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = F.broadcast(
        table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = F.broadcast(
        table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) + F.lit(1e-9), 4
    ).cast("decimal(18,4)")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("volume"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "join_q17ish_correlated_agg",
    oracle="""
WITH lim AS (
  SELECT l_partkey AS pk,
         0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(38,12))) AS DOUBLE)
                / count(l_quantity)) AS qty_lim
  FROM lineitem GROUP BY l_partkey
)
SELECT any_value(1) AS grp,
       CAST(count(*) AS BIGINT) AS n_small_orders,
       CAST(sum(CAST(round(l_extendedprice + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN lim ON pk = l_partkey
WHERE p_brand = 'Brand#4' AND l_quantity < qty_lim
""",
)
def join_q17ish_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style correlated-aggregate join: lineitems whose
    quantity is below 20% of their part's average — the decorrelated
    shape (per-part average as a derived table joined back on the
    fact key), which is exactly how Catalyst rewrites the correlated
    scalar subquery. The part-brand filter broadcasts; the per-part
    averages fold through DECIMAL (exact quotient inputs) and the
    revenue through per-row-rounded DECIMAL(18,4), so both engines
    agree bit-for-bit."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    )
    lim = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count("l_quantity")
            )
        ).alias("qty_lim")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(lim, li.l_partkey == lim.pk)
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            F.any_value(F.lit(1)).alias("grp"),
            F.count(F.lit(1)).alias("n_small_orders"),
            F.sum(
                F.round(F.col("l_extendedprice") + F.lit(1e-9), 4).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "join_q18ish_having_semi",
    oracle="""
WITH big AS (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(38,6)))
                          AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(38,6))) > 150
)
SELECT o.o_orderkey, o.o_orderpriority, b.total_qty,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents
FROM orders o JOIN big b ON o.o_orderkey = b.l_orderkey
ORDER BY b.total_qty DESC, o.o_orderkey
LIMIT 25
""",
)
def join_q18ish_having_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-style large-volume-order report: aggregate-then-HAVING
    derived table joined back to the orders fact, top-25 by total
    quantity. The HAVING side aggregates BEFORE the join (one partial-
    agg exchange; the filtered winner set is small and hash-joins on
    the order key); quantity folds through DECIMAL so threshold and
    sort order are partition-independent."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("__q")
        )
        .filter(F.col("__q") > 150)
        .select(
            "l_orderkey", F.col("__q").cast("double").alias("total_qty")
        )
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "total_qty",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("totalprice_cents"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(25)
    )


# -- as-of join: forward / nearest / tolerance directions ------------------


@register(
    "join_asof_forward",
    """
SELECT e.event_id, e.user_id, c.value AS value_next
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts <= c.ts
ORDER BY e.event_id
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5+: the forward as-of direction — for each error, the NEAREST
    click at-or-after it per user (pd.merge_asof direction='forward';
    DuckDB ASOF JOIN with the inequality flipped). Same one-union
    window plan as the backward join, ordered descending
    (operators/asof.py:asof_join(direction='forward')); nearest and
    tolerance ride the same machinery (property-tested vs pandas)."""

    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        errors, clicks, on="user_id", value_cols=("value",), suffix="_x",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", F.col("value_x").alias("value_next")
    ).orderBy("event_id")


# -- TPC-H Q5-shaped multi-join aggregation --------------------------------


@register(
    "join_star_q5ish",
    """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
)
def join_star_q5ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: the TPC-H Q5 join shape — six tables, the
    customer-nation = supplier-nation co-location condition, one
    grouped revenue aggregation. Spark-first: region/nation broadcast
    (and supplier under the AQE threshold at test SF); the only big
    exchanges are the orders-customer and lineitem-orders equi-joins,
    both on their natural keys; DECIMAL revenue arithmetic is exact so
    the sum is partition-order independent."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# -- TPC-H Q2 shape: correlated-min supplier pick -----------------------------


@register(
    "join_q2ish_min_cost",
    oracle="""
WITH px AS (
  SELECT l_partkey, min(l_extendedprice) AS min_price
  FROM lineitem GROUP BY l_partkey
), best AS (
  SELECT p.p_partkey, any_value(p.p_brand) AS brand,
         min(px.min_price) AS min_price, min(l.l_suppkey) AS best_suppkey
  FROM part p
  JOIN px ON px.l_partkey = p.p_partkey
  JOIN lineitem l
    ON l.l_partkey = p.p_partkey AND l.l_extendedprice = px.min_price
  WHERE p.p_size BETWEEN 10 AND 15 AND p.p_type = 'LARGE'
  GROUP BY p.p_partkey
)
SELECT b.p_partkey, b.brand, CAST(b.min_price AS DOUBLE) AS min_price,
       CAST(b.best_suppkey AS BIGINT) AS best_suppkey, s.s_name
FROM best b JOIN supplier s ON s.s_suppkey = b.best_suppkey
ORDER BY min_price ASC, p_partkey
LIMIT 100
""",
)
def join_q2ish_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-style minimum-cost supplier: for each qualifying part,
    the supplier quoting the part's minimum price (min suppkey breaks
    price ties). This is the correlated scalar-MIN subquery shape in
    its decorrelated form — per-part minima as a derived table joined
    back on the part key with a price-equality predicate — which is
    exactly Catalyst's rewrite of `WHERE price = (SELECT min ...)`.
    The part filter and the 100-row supplier dim broadcast; price
    equality is safe because both sides compare the identical stored
    double, never an accumulated one."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        table(spark, sf_dir, "part").filter(
            F.col("p_size").between(10, 15) & (F.col("p_type") == "LARGE")
        )
    )
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    px = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    best = (
        li.join(px, (li.l_partkey == px.pk) & (li.l_extendedprice == px.min_price))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(
            F.any_value("p_brand").alias("brand"),
            F.min("min_price").alias("min_price"),
            F.min("l_suppkey").alias("best_suppkey"),
        )
    )
    return (
        best.join(s, best.best_suppkey == s.s_suppkey)
        .select("p_partkey", "brand", "min_price", "best_suppkey", "s_name")
        .orderBy(F.asc("min_price"), "p_partkey")
        .limit(100)
    )


# -- TPC-H Q4 shape: EXISTS with a cross-table predicate ----------------------


@register(
    "join_q4ish_exists_late",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def join_q4ish_exists_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-style priority check: orders in a two-year window with
    at least one lineitem shipped >90 days after the order date,
    counted per priority. The EXISTS compiles to a LEFT SEMI join
    whose condition references BOTH sides (orderkey equality + the
    date comparison) — the semi-join-with-residual-predicate plan
    family. The date filter pushes to the orders scan; the semi join
    shuffles both sides on the order key once."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    hit = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# -- TPC-H Q13 shape: outer-join count distribution ---------------------------


@register(
    "join_q13ish_count_dist",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def join_q13ish_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-style customer order-count distribution: LEFT OUTER
    join with the priority filter INSIDE the join condition (so
    filtered-out customers still appear with count 0 — the semantics
    that force an outer join, not a WHERE), per-customer count, then a
    second aggregate over the counts. Two shuffles — custkey, then the
    tiny count-distribution key — both with map-side partials."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# -- TPC-H Q19 shape: disjunctive join predicate -------------------------------


@register(
    "join_q19ish_disjunctive",
    oracle="""
SELECT any_value(1) AS grp, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def join_q19ish_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-style disjunctive-predicate revenue: an OR of three
    conjunction groups, each mixing part-side and lineitem-side
    columns. The plan test for predicate DECOMPOSITION: Catalyst
    extracts the per-side implied disjunctions (p_brand IN three
    brands / p_size <= 15 / l_quantity between 1 and 30) and pushes
    them below the join, keeping only the residual OR above it. Part
    broadcasts; revenue folds per-row-rounded DECIMAL(18,4) like every
    revenue aggregate in the registry."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(table(spark, sf_dir, "part"))
    joined = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) + F.lit(1e-9), 4
    ).cast("decimal(18,4)")
    return joined.filter(cond).agg(
        F.any_value(F.lit(1)).alias("grp"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(rev).cast("double").alias("revenue"),
    )


# -- TPC-H Q21 shape: EXISTS + NOT EXISTS over one derived table ---------------


@register(
    "join_q21ish_waiting",
    oracle="""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  GROUP BY l_orderkey, l_suppkey
), allsup AS (
  SELECT l_orderkey, l_suppkey FROM lineitem GROUP BY l_orderkey, l_suppkey
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late t
JOIN supplier s ON s.s_suppkey = t.l_suppkey
WHERE EXISTS (
    SELECT 1 FROM allsup a
    WHERE a.l_orderkey = t.l_orderkey AND a.l_suppkey <> t.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM late l2
    WHERE l2.l_orderkey = t.l_orderkey AND l2.l_suppkey <> t.l_suppkey)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def join_q21ish_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-style waiting-supplier report: suppliers who were the
    SOLE late shipper (>60 days after order date) in an order that
    involved at least one other supplier. The double-correlation plan
    family — one EXISTS (left-semi with an inequality residual) and
    one NOT EXISTS (left-anti, same shape) against the same derived
    late-pair table, which Spark plans without re-reading lineitem
    thanks to exchange reuse. All outputs are counts — exact."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    allsup = li.select("l_orderkey", "l_suppkey").distinct()
    a = allsup.select(
        F.col("l_orderkey").alias("a_ok"), F.col("l_suppkey").alias("a_sk")
    )
    l2 = late.select(
        F.col("l_orderkey").alias("b_ok"), F.col("l_suppkey").alias("b_sk")
    )
    t = (
        late.join(
            a,
            (late.l_orderkey == a.a_ok) & (late.l_suppkey != a.a_sk),
            "left_semi",
        )
        .join(
            l2,
            (late.l_orderkey == l2.b_ok) & (late.l_suppkey != l2.b_sk),
            "left_anti",
        )
    )
    return (
        t.join(s, t.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# -- TPC-H Q22 shape: global scalar-aggregate subquery + anti join -------------


@register(
    "join_q22ish_scalar_avg",
    oracle="""
WITH pos AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pos,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS totbal_cents
FROM customer c CROSS JOIN pos
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * pos.n_pos > pos.sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def join_q22ish_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-style lost-opportunity report: customers with no
    URGENT orders whose balance beats the average positive balance,
    grouped by market segment (the priority filter keeps the anti set
    non-empty at the dense test SFs where every customer has SOME
    order). The global-scalar-subquery + anti-join plan family.
    Exactness: balances quantize to integer cents BEFORE any
    aggregation and the `bal > avg` threshold cross-multiplies
    (cents * n_pos > sum_cents) so the whole comparison is integer —
    no double mean ever materializes. The one-row aggregate broadcasts
    (Catalyst's rewrite of the scalar subquery); the anti join on
    custkey is the only full shuffle."""
    c = table(spark, sf_dir, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("cents").alias("sum_cents")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(F.col("cents") * F.col("n_pos") > F.col("sum_cents"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum("cents").alias("totbal_cents"),
        )
        .orderBy("c_mktsegment")
    )


# -- point-in-time (feature-store) join against SCD2 versions ----------------------


@register(
    "join_point_in_time",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER w AS prev_et,
         lag(ts) OVER w AS prev_ts
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
), changes AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev_et
), v AS (
  SELECT user_id AS key, event_type, ts AS valid_from FROM changes
), p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT p.event_id, p.user_id, max(v.valid_from) AS vf
  FROM p JOIN v ON v.key = p.user_id AND v.valid_from < p.ts
  GROUP BY 1, 2
)
SELECT m.event_id, m.user_id, v.event_type AS state_before
FROM m JOIN v ON v.key = m.user_id AND v.valid_from = m.vf
ORDER BY event_id
""",
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: point-in-time join — the feature-store primitive that keeps
    training data leak-free: each fact (purchase event) joins the SCD2
    dimension version in effect STRICTLY BEFORE its timestamp, never a
    version created at-or-after it (no label leakage). Composes two
    existing operators: scd2_from_log builds the versions, asof_join
    with allow_exact_matches=False picks the strictly-previous one
    (first-ever purchases have no prior state and drop, mirrored by the
    oracle's inner join). One key-partitioned window + one as-of
    carry — both on the user key, no new shuffle shape."""
    from whisper_pandas_spark.operators.scd import scd2_from_log

    ev = table(spark, sf_dir, "events")
    versions = scd2_from_log(
        ev.select("user_id", "ts", "event_type"), "user_id", "ts", ["event_type"]
    )
    right = versions.select(
        F.col("key").alias("user_id"),
        F.col("valid_from").alias("ts"),
        F.col("event_type").alias("state_before"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    pit = asof_join(
        purchases,
        right,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=("state_before",),
        inner=True,
        allow_exact_matches=False,
    )
    return pit.select(
        "event_id", "user_id", F.col("state_before_asof").alias("state_before")
    ).orderBy("event_id")


def _rev(expr):
    return F.round(expr + F.lit(1e-9), 4).cast("decimal(18,4)")


# -- Q6: pure filter-aggregate -------------------------------------------------


@register(
    "join_q6ish_filter_agg",
    oracle="""
SELECT any_value(1) AS grp, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * l_discount + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def join_q6ish_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6: the no-join baseline — every predicate must reach the
    parquet scan (date range, discount band, quantity cap), then one
    partial-aggregable fold. The pushdown pin for pure scans."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.any_value(F.lit(1)).alias("grp"),
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_rev(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
    )


# -- Q8: market share by year ---------------------------------------------------


@register(
    "join_q8ish_market_share",
    oracle="""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
                     THEN CAST(round(l_extendedprice * (1 - l_discount)
                                     + 1e-9, 4) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         AS nation_rev,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
FROM customer
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY year(o_orderdate)
ORDER BY o_year
""",
)
def join_q8ish_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8: one nation's share of a region's yearly revenue — the
    ratio-of-two-aggregates-over-one-join-tree family (numerator is a
    CASE fold of the same rows as the denominator, so ONE pass, not
    two joins). The share itself is left to the reader (one division
    of the two returned columns) so the hash gate checks the exact
    decimal folds, not a rounding convention."""
    c = table(spark, sf_dir, "customer")
    n1 = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(
        table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    n2 = F.broadcast(
        table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("n2_name"),
        )
    )
    rev = _rev(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        c.join(n1, c.c_nationkey == n1.n_nationkey)
        .join(r, n1.n_regionkey == r.r_regionkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("n2_name") == "NATION_2", rev).otherwise(zero))
            .cast("double")
            .alias("nation_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
        .orderBy("o_year")
    )


# -- Q9: computed profit by nation x year ----------------------------------------


@register(
    "join_q9ish_profit",
    oracle="""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))
                - CAST(round(0.8 * p_retailprice * l_quantity + 1e-9, 4)
                       AS DECIMAL(18,4))) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year
""",
)
def join_q9ish_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9: computed-measure star — per-row profit is a DIFFERENCE
    of two independently rounded DECIMAL(18,4) terms (revenue minus a
    retail-price cost proxy; the testdata has no partsupp.supplycost),
    summed exactly, grouped by supplier nation x order year. The part
    name LIKE filter pushes into the broadcast dim."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    )
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    n = F.broadcast(table(spark, sf_dir, "nation"))
    o = table(spark, sf_dir, "orders")
    amount = _rev(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - _rev(
        F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", "o_year")
    )


# -- Q11: HAVING vs a global fraction ---------------------------------------------


@register(
    "join_q11ish_value_frac",
    oracle="""
WITH pv AS (
  SELECT l_partkey, sum(CAST(round(l_extendedprice + 1e-9, 4)
                             AS DECIMAL(18,4))) AS val
  FROM lineitem GROUP BY l_partkey
), tot AS (SELECT sum(val) AS total, count(*) AS n_parts FROM pv)
SELECT l_partkey AS partkey, CAST(val AS DOUBLE) AS value
FROM pv CROSS JOIN tot
WHERE val * n_parts * 2 > total * 3
ORDER BY value DESC, partkey
""",
)
def join_q11ish_value_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11: groups whose aggregate exceeds a FRACTION of the
    global MEAN (parts worth >1.5x the average part — scale-free, so
    the report is non-empty at every SF) — the HAVING-vs-scalar-subquery
    family. The threshold compare is exact decimal arithmetic
    (val * n_parts * 2 > total * 3, decimal-times-integer on both sides), never a float fraction; the one-row total broadcasts."""
    li = table(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev(F.col("l_extendedprice"))).alias("val")
    )
    tot = pv.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("val") * F.col("n_parts") * 2 > F.col("total") * 3)
        .select("partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


# -- Q12: conditional CASE aggregation ---------------------------------------------


@register(
    "join_q12ish_priority_case",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def join_q12ish_priority_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12: CASE-split counting inside one aggregation (the
    shipmode report, keyed on returnflag here) — one join, one pass,
    two conditional folds; the date filter pushes to the lineitem
    scan."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# -- Q14: promo share ----------------------------------------------------------------


@register(
    "join_q14ish_promo_share",
    oracle="""
SELECT any_value(1) AS grp,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(round(l_extendedprice * (1 - l_discount)
                                     + 1e-9, 4) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         AS promo_rev,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) + 1e-9, 4)
                     AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
""",
)
def join_q14ish_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14: promotion revenue share for one month — the
    conditional-over-total ratio family; like Q8 the gate checks the
    two exact folds and leaves the final division to the reader."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = F.broadcast(table(spark, sf_dir, "part"))
    rev = _rev(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,4)")
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.any_value(F.lit(1)).alias("grp"),
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
        .cast("double")
        .alias("promo_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )


# -- Q15: top supplier via aggregate max ----------------------------------------------


@register(
    "join_q15ish_top_supplier",
    oracle="""
WITH sr AS (
  SELECT l_suppkey, sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   + 1e-9, 4) AS DECIMAL(18,4))) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
), mx AS (SELECT max(rev) AS m FROM sr)
SELECT s_suppkey, s_name, CAST(sr.rev AS DOUBLE) AS total_rev
FROM sr JOIN supplier ON s_suppkey = l_suppkey CROSS JOIN mx
WHERE sr.rev = mx.m
ORDER BY s_suppkey
""",
)
def join_q15ish_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15: the revenue view + global-max equality pick (ties all
    returned, like the spec) — aggregate, scalar max over the
    aggregate, equality filter. The DECIMAL folds make the equality
    well-defined (identical exact values on both engines)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    sr = li.groupBy("l_suppkey").agg(
        F.sum(_rev(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "rev"
        )
    )
    mx = sr.agg(F.max("rev").alias("m"))
    return (
        sr.crossJoin(F.broadcast(mx))
        .where(F.col("rev") == F.col("m"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.col("rev").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


# -- Q16: COUNT DISTINCT + NOT-IN exclusion -------------------------------------------


@register(
    "join_q16ish_supplier_cnt",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type NOT IN ('PROMO', 'ECONOMY')
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 30
""",
)
def join_q16ish_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16: supplier diversity per part spec — COUNT DISTINCT
    over a join with a NOT-IN-subquery exclusion ('complaint'
    suppliers = negative balance), which Catalyst plans as a
    null-aware anti join against the tiny exclusion list."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        table(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").isin("PROMO", "ECONOMY")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
        )
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("bad_key")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(30)
    )


# -- Q20: nested correlated-aggregate EXISTS ------------------------------------------


@register(
    "join_q20ish_nested_agg",
    oracle="""
WITH q AS (
  SELECT l_partkey, l_suppkey,
         sum(CAST(round(l_quantity) AS BIGINT)) AS sq
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%bolt%'
  GROUP BY l_partkey, l_suppkey
), pt AS (
  SELECT l_partkey, sum(sq) AS pq FROM q GROUP BY l_partkey
), hot AS (
  SELECT DISTINCT q.l_suppkey
  FROM q JOIN pt ON pt.l_partkey = q.l_partkey
  WHERE q.sq * 20 > pt.pq * 3
)
SELECT s_suppkey, s_name
FROM supplier JOIN hot ON l_suppkey = s_suppkey
ORDER BY s_suppkey
""",
)
def join_q20ish_nested_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20: suppliers who shipped >15% of some bolt-part's total
    quantity — the nested correlated-aggregate family (per-(part,
    supplier) aggregate compared against the per-part aggregate of the
    SAME derived table, then a semi join to the dimension). The share
    threshold cross-multiplies exact integers (sq*20 > pq*3); the
    per-part totals reuse the first aggregate, not the raw scan."""
    li = table(spark, sf_dir, "lineitem")
    p = F.broadcast(
        table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    )
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    q = stage_materialize(
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("sq"))
        # (part, supplier)-sized and consumed twice (threshold join +
        # per-part totals); materialize so lineitem is scanned ONCE
    )
    pt = q.groupBy(F.col("l_partkey").alias("pk")).agg(F.sum("sq").alias("pq"))
    hot = (
        q.join(pt, q.l_partkey == pt.pk)
        .where(F.col("sq") * 20 > F.col("pq") * 3)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(hot, s.s_suppkey == hot.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# join_notin_nullaware
# ---------------------------------------------------------------------------


@register(
    "join_notin_nullaware",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS price_cents
FROM orders
WHERE o_custkey NOT IN
  (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def join_notin_nullaware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y172: NOT IN as a NULL-AWARE anti join — the one anti-join
    physical family the registry lacked (join_anti and the TPC-H
    shapes all use left_anti / NOT EXISTS, which is a plain LeftAnti).
    NOT IN over a nullable key has three-valued semantics (one NULL in
    the subquery empties the result), so Catalyst cannot use a plain
    hash anti join; naively it plans a BroadcastNestedLoopJoin with a
    disjunctive condition — a scale killer. Spark's NAAJ optimization
    keeps it hash-based: the broadcast HashedRelation is built
    null-aware (`HashedRelationBroadcastMode(..,true)` in the plan —
    asserted here; the entry RAISES on regression to the
    nested-loop fallback). The oracle runs the same ANSI NOT IN."""
    from whisper_pandas_spark.plans.inspect import formatted_plan

    table(spark, sf_dir, "orders").createOrReplaceTempView("naaj_orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView(
        "naaj_customer"
    )
    q = spark.sql(
        """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS price_cents
FROM naaj_orders
WHERE o_custkey NOT IN
  (SELECT c_custkey FROM naaj_customer WHERE c_acctbal > 5000.0)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""
    )
    plan = formatted_plan(q)
    if "BroadcastNestedLoop" in plan:
        raise RuntimeError(
            "NOT IN regressed to BroadcastNestedLoopJoin — the"
            " null-aware anti join optimization is off"
        )
    if "HashedRelationBroadcastMode(List(input[0, bigint, true]),true)" not in plan:
        raise RuntimeError(
            "NOT IN lost the null-aware HashedRelation build:"
            " the broadcast mode flag is not set"
        )
    return q
