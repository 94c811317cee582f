"""Registry entries: core relational surface (SURVEY.md §2.2–2.8) —
filter/project, sort, set operations, grouping sets, pivots, quantiles
and scalar (string / date / math / JSON / array / map) expressions.

Each entry pairs the engine's DataFrame implementation with a DuckDB
oracle. Timestamps: the Spark session runs with UTC session timezone, so
``TIMESTAMP`` literals agree with DuckDB's UTC-naive timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.operators.relational import (
    PRICING_SUMMARY_SQL,
    pricing_summary,
)


@register("q1_pricing_summary", oracle=PRICING_SUMMARY_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: filter → groupBy(2) → 8 aggs → sort on lineitem.

    Reference-shape parity: same scan→filter→aggregate→sort dataflow as
    ``whisper_pandas.py:186-234`` (decode→mask→convert→sort), distributed.
    """
    return pricing_summary(table(spark, sf_dir, "lineitem"))


@register(
    "filter_project_cast",
    oracle="""
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
       round(value * 1.1, 6) AS adj_value
FROM events
WHERE event_type = 'click' AND value > 5.0
ORDER BY event_id
""",
)
def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3/P5: pushed filter + projection + epoch cast (the reference's
    drop_time_zero → to_datetime → column-assembly pipeline shape,
    whisper_pandas.py:214-229)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("event_type") == "click") & (F.col("value") > 5.0))
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
            F.round(F.col("value") * 1.1, 6).alias("adj_value"),
        )
        .orderBy("event_id")
    )


@register(
    "sort_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: total order + limit → Spark plans TakeOrderedAndProject
    (no full sort materialization — the scale-safe top-k)."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "union_all_tagged",
    oracle="""
SELECT c_custkey, c_name, 'building' AS segment_tag
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, c_name, 'machinery' AS segment_tag
FROM customer WHERE c_mktsegment = 'MACHINERY'
ORDER BY c_custkey
""",
)
def union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: provenance-tagged concatenation (reference: pd.concat of
    archives with an archive column, whisper_pandas.ipynb cell 33)."""
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_name", F.lit("building").alias("segment_tag")
    )
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey", "c_name", F.lit("machinery").alias("segment_tag")
    )
    return a.unionByName(b).orderBy("c_custkey")


@register(
    "intersect_keys",
    oracle="""
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
ORDER BY c_custkey
""",
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: INTERSECT (distinct semantics both sides)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .intersect(o.select(F.col("o_custkey").alias("c_custkey")))
        .orderBy("c_custkey")
    )


@register(
    "except_keys",
    oracle="""
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 150000
ORDER BY c_custkey
""",
)
def except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: EXCEPT (customers with no large order)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.select("c_custkey")
        .exceptAll(o.select(F.col("o_custkey").alias("c_custkey")))
        .distinct()
        .orderBy("c_custkey")
    )


@register(
    "distinct_agg",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countDistinct (expand-based distinct aggregation)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register(
    "approx_distinct",
    oracle="""
SELECT event_type, TRUE AS within_5pct
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path where exact
    distinct is a full shuffle.

    The HLL estimate is algorithm-specific, so no SQL engine can reproduce
    the raw number — but its ACCURACY BOUND is checkable with an exact
    hash: the engine emits ``|approx - exact| / exact <= 0.05`` computed
    engine-side, and the oracle emits the same deterministic TRUE rows.
    A broken sketch flips the boolean.

    rsd is pinned at 0.02 (not the 0.05 default) so the asserted 5%
    bound sits at 2.5 relative standard deviations: rsd is a ONE-sigma
    figure, and the default sketch legitimately landed at 6.7% error on
    the sf0.1 fixture (round-13 finding at the first full sf0.1 sweep)
    — an in-spec estimate that still flipped the hard bound. The
    estimate is deterministic per dataset, so the tighter sketch keeps
    the check exact at every fixture scale."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "cube_agg",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
""",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (subtotals + grand total), null-safe sentinel."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "rollup_grouping",
    oracle="""
SELECT coalesce(r_name, 'ALL') AS region_name,
       coalesce(n_name, 'ALL') AS nation_name,
       count(*) AS n_customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region_name, nation_name
""",
)
def rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL ROLLUP over a two-level dimension hierarchy (both dim joins
    broadcast — nation and region are tiny)."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
        )
        .orderBy("region_name", "nation_name")
    )


@register(
    "pivot_conditional",
    oracle="""
SELECT user_id,
       round(coalesce(sum(value) FILTER (WHERE event_type = 'click'), 0), 6) AS click_total,
       round(coalesce(sum(value) FILTER (WHERE event_type = 'view'), 0), 6) AS view_total,
       round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0), 6) AS purchase_total
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation (single shuffle, no pivot
    metadata pass)."""
    ev = table(spark, sf_dir, "events")

    def tot(t: str):
        return F.round(
            F.coalesce(F.sum(F.when(F.col("event_type") == t, F.col("value"))), F.lit(0.0)), 6
        ).alias(f"{t}_total")

    return (
        ev.groupBy("user_id")
        .agg(tot("click"), tot("view"), tot("purchase"))
        .orderBy("user_id")
    )


@register(
    "exact_quantiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS median_value,
       round(quantile_cont(value, 0.9), 6) AS p90_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``). At 100 TB you'd switch to percentile_approx —
    see ``approx_quantiles``."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90_value"),
        )
        .orderBy("event_type")
    )


@register(
    "approx_quantiles",
    oracle="""
SELECT event_type, TRUE AS within_tol
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx — the sketch-based scale path.

    Same tolerance-oracle pattern as ``approx_distinct``: the sketch value
    itself is algorithm-specific, but percentile_approx guarantees a rank
    error ≤ n/accuracy, so the approx median must fall between the exact
    p45 and p55 (rank tolerance 5% ≫ the sketch's 1/10000 default).
    Both engines emit deterministic booleans the hash gate can compare."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5).alias("am"),
            F.expr("percentile(value, 0.45)").alias("lo"),
            F.expr("percentile(value, 0.55)").alias("hi"),
        )
        .select(
            "event_type",
            ((F.col("am") >= F.col("lo")) & (F.col("am") <= F.col("hi"))).alias(
                "within_tol"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "scalar_array_funcs",
    oracle="""
SELECT vec_id,
  len(embedding) AS dim,
  round(list_min(list_transform(embedding, v -> v::DOUBLE)), 6) AS min_v,
  round(list_max(list_transform(embedding, v -> v::DOUBLE)), 6) AS max_v,
  round(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        v -> v::DOUBLE * v::DOUBLE)), (a, b) -> a + b)), 6) AS l2_norm
FROM embeddings
WHERE vec_id < 100
ORDER BY vec_id
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array higher-order functions over ARRAY<FLOAT>: size,
    array_min/max, L2 norm via the left-fold aggregate (the same
    bit-parity fold as the similarity operators)."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_v"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_v"),
        F.round(l2, 6).alias("l2_norm"),
    ).orderBy("vec_id")


@register(
    "scalar_map_funcs",
    oracle="""
SELECT event_id,
  array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
  json_extract_string(props, '$.k') AS k_value
FROM events
WHERE event_id < 500
ORDER BY event_id
""",
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 map functions: events.props JSON → MapType via from_json,
    then map_keys (sorted for determinism) and a key lookup."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    m = F.from_json("props", "map<string,string>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        m.getItem("k").alias("k_value"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Scalar function surface (§2.8)
# ---------------------------------------------------------------------------


@register(
    "scalar_string_funcs",
    oracle="""
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       length(p_name) AS name_len,
       regexp_replace(p_type, '[aeiou]', '', 'g') AS type_consonants,
       substring(p_name, 1, 5) AS name_head,
       concat(p_brand, ':', p_type) AS brand_type
FROM part
ORDER BY p_partkey
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upper/length/regexp_replace/substring/concat."""
    return (
        table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.length("p_name").alias("name_len"),
            F.regexp_replace("p_type", "[aeiou]", "").alias("type_consonants"),
            F.substring("p_name", 1, 5).alias("name_head"),
            F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


@register(
    "scalar_date_funcs",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       count(*) AS n_orders,
       round(sum(o_totalprice), 6) AS month_total
FROM orders
GROUP BY yr, mo
ORDER BY yr, mo
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/month extraction + monthly aggregation."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            "o_totalprice",
        )
        .groupBy("yr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("month_total"),
        )
        .orderBy("yr", "mo")
    )


@register(
    "scalar_math_funcs",
    oracle="""
SELECT l_linenumber,
       round(CAST(sum(CAST(round(abs(l_discount - 0.05), 6) AS DECIMAL(38,10))) AS DOUBLE)
             / count(*), 6) AS avg_abs_dev,
       round(CAST(sum(floor(l_quantity)) AS DOUBLE), 6) AS sum_floor_qty,
       round(CAST(sum(ceil(l_quantity)) AS DOUBLE), 6) AS sum_ceil_qty,
       round(CAST(sum(CAST(round(sqrt(l_extendedprice), 6) AS DECIMAL(38,10))) AS DOUBLE)
             / count(*), 6) AS avg_sqrt_price,
       round(CAST(sum(CAST(round(ln(l_extendedprice + 1), 6) AS DECIMAL(38,10))) AS DOUBLE)
             / count(*), 6) AS avg_log_price
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
""",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/floor/ceil/sqrt/ln inside aggregates.

    Double summation is order-dependent (Spark's partial aggregation order
    differs from a sequential oracle sum), so the hashed floats are made
    order-independent: round per-row first, sum in exact DECIMAL(38,10)
    arithmetic (associative ⇒ bit-identical under any partitioning), divide
    once, round the final result.
    """
    li = table(spark, sf_dir, "lineitem")

    def dec_avg(col, alias):
        s = F.sum(F.round(col, 6).cast("decimal(38,10)")).cast("double")
        return F.round(s / F.count(F.lit(1)), 6).alias(alias)

    return (
        li.groupBy("l_linenumber")
        .agg(
            dec_avg(F.abs(F.col("l_discount") - 0.05), "avg_abs_dev"),
            F.round(F.sum(F.floor("l_quantity")).cast("double"), 6).alias("sum_floor_qty"),
            F.round(F.sum(F.ceil("l_quantity")).cast("double"), 6).alias("sum_ceil_qty"),
            dec_avg(F.sqrt("l_extendedprice"), "avg_sqrt_price"),
            dec_avg(F.log(F.col("l_extendedprice") + 1), "avg_log_price"),
        )
        .orderBy("l_linenumber")
    )


@register(
    "scalar_json_funcs",
    oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
       count(*) AS n,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
""",
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column
    (get_json_object ≡ json_extract_string)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .orderBy("k_bucket")
    )


@register(
    "scalar_case_when",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS size_class,
       o_orderstatus,
       count(*) AS n
FROM orders
GROUP BY size_class, o_orderstatus
ORDER BY size_class, o_orderstatus
""",
)
def scalar_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + two-key aggregation."""
    o = table(spark, sf_dir, "orders")
    size_class = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
        .alias("size_class")
    )
    return (
        o.select(size_class, "o_orderstatus")
        .groupBy("size_class", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("size_class", "o_orderstatus")
    )
