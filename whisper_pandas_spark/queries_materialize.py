"""Registry entries: lakehouse materializations — bucketed and clustered
layouts with proven pruning (``layout_*``, ``join_bucketed_colocated``),
MERGE / change-feed / deletion-vector table maintenance (``merge_*``),
incremental views (``incr_*``), SCD2 and snapshot diffs.

Doctrine: a materialization must be semantically INVISIBLE, so each
DuckDB oracle is the plain formulation over the source tables, with no
bucketing, layout or table state anywhere; the layout itself is proven
by plan assertions (tests/test_plans.py) or by the entry raising when
its pruning fails to reach the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, scratch_dir, scratch_once, table


# ---------------------------------------------------------------------------
# Y4: bucketed co-located join
# ---------------------------------------------------------------------------

_BUCKETS = 16


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize customer+orders bucketed by custkey, once per process
    per sf_dir (table names carry the sf_dir so scales don't collide)."""
    from whisper_pandas_spark.sources.bucketed import materialize_bucketed

    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    t_cust, t_ord = f"wps_bkt_customer_{tag}", f"wps_bkt_orders_{tag}"

    def build(base: str) -> None:
        materialize_bucketed(
            table(spark, sf_dir, "customer"), t_cust, "c_custkey",
            _BUCKETS, sort_cols="c_custkey", path=f"{base}/customer",
        )
        materialize_bucketed(
            table(spark, sf_dir, "orders"), t_ord, "o_custkey",
            _BUCKETS, sort_cols="o_custkey", path=f"{base}/orders",
        )

    scratch_once("wps_bucketed_", sf_dir, build)
    return t_cust, t_ord


@register(
    "join_bucketed_colocated",
    oracle="""
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_totalprice_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join over two tables bucketed on the join key: the merge hint
    forces SMJ, and the catalog's bucket metadata elides both shuffle
    exchanges (plan-asserted in tests/test_plans.py). Oracle is the
    PLAIN join — bucketing must be semantically invisible. totalprice in
    integer cents so the sum is exact under any partitioning."""
    t_cust, t_ord = _bucketed_tables(spark, sf_dir)
    cust = spark.table(t_cust)
    orders = spark.table(t_ord).withColumn(
        "o_totalprice_cents",
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
    )
    return (
        orders.hint("merge")
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice_cents").alias("sum_totalprice_cents"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Y25: Z-order clustered layout with proven row-group pruning
# ---------------------------------------------------------------------------

_ZBOX = (0.40, 0.50)  # box = [min + 40% span, min + 50% span] per column


def _zorder_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize orders Z-ordered on (o_custkey, o_totalprice), once
    per process per sf_dir."""
    from whisper_pandas_spark.sources.clustered import materialize_zorder

    return scratch_once(
        "wps_zorder_",
        sf_dir,
        lambda d: materialize_zorder(
            table(spark, sf_dir, "orders"),
            d,
            ["o_custkey", "o_totalprice"],
            num_files=8,
        ),
    )


@register(
    "layout_zorder_prune",
    oracle=f"""
WITH b AS (
  SELECT min(o_custkey) + {_ZBOX[0]} * (max(o_custkey) - min(o_custkey)) AS ck_lo,
         min(o_custkey) + {_ZBOX[1]} * (max(o_custkey) - min(o_custkey)) AS ck_hi,
         min(o_totalprice) + {_ZBOX[0]} * (max(o_totalprice) - min(o_totalprice)) AS tp_lo,
         min(o_totalprice) + {_ZBOX[1]} * (max(o_totalprice) - min(o_totalprice)) AS tp_hi
  FROM orders
)
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders, b
WHERE o_custkey >= ck_lo AND o_custkey <= ck_hi
  AND o_totalprice >= tp_lo AND o_totalprice <= tp_hi
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def layout_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y25: Z-order clustering proven end-to-end — orders materialized
    Morton-clustered on (o_custkey, o_totalprice), then a 10% x 10% box
    predicate aggregated per priority. The oracle runs the same box on
    the PLAIN table (layout must be semantically invisible; box bounds
    are the identical IEEE min + frac*span expression on both sides).
    Before returning, the entry decodes the written row-group min/max
    footers (sources/clustered.py:row_group_stats) and RAISES unless
    most row groups' bounding boxes miss the query box — so a layout
    regression that silently stops pruning turns the driver row red
    instead of just slow. totalprice summed in integer cents."""
    from whisper_pandas_spark.sources.clustered import row_group_stats

    d = _zorder_table(spark, sf_dir)
    t = spark.read.parquet(d)
    mm = t.agg(
        F.min("o_custkey").alias("ck_min"),
        F.max("o_custkey").alias("ck_max"),
        F.min("o_totalprice").alias("tp_min"),
        F.max("o_totalprice").alias("tp_max"),
    ).collect()[0]
    ck_lo = mm["ck_min"] + _ZBOX[0] * (mm["ck_max"] - mm["ck_min"])
    ck_hi = mm["ck_min"] + _ZBOX[1] * (mm["ck_max"] - mm["ck_min"])
    tp_lo = mm["tp_min"] + _ZBOX[0] * (mm["tp_max"] - mm["tp_min"])
    tp_hi = mm["tp_min"] + _ZBOX[1] * (mm["tp_max"] - mm["tp_min"])

    stats = row_group_stats(d, ["o_custkey", "o_totalprice"])
    hit = [
        g
        for g in stats
        if g["o_custkey"] is not None
        and g["o_custkey"][0] <= ck_hi
        and g["o_custkey"][1] >= ck_lo
        and g["o_totalprice"][0] <= tp_hi
        and g["o_totalprice"][1] >= tp_lo
    ]
    if len(stats) < 2 or len(hit) > len(stats) // 2:
        raise RuntimeError(
            f"z-order layout stopped pruning: {len(hit)}/{len(stats)} "
            "row groups intersect a 10%x10% box"
        )
    return (
        t.filter(
            (F.col("o_custkey") >= F.lit(ck_lo))
            & (F.col("o_custkey") <= F.lit(ck_hi))
            & (F.col("o_totalprice") >= F.lit(tp_lo))
            & (F.col("o_totalprice") <= F.lit(tp_hi))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "sum_cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Y154: Hive-partitioned layout with proven directory-level pruning
# ---------------------------------------------------------------------------
# The third member of the layout-pruning family: zorder = row-group
# min/max skipping, bloom = file-level membership skipping, and this one
# is the cheapest tier of all — DIRECTORY pruning, where the filter
# eliminates partitions before a single byte of parquet is opened. At
# 100 TB a date-partitioned event log is the default layout; a query
# that loses its PartitionFilters silently degrades to a full scan, so
# (zorder-entry doctrine) the entry RAISES when the filter fails to
# reach the scan rather than returning slow-but-correct rows.

_PART_DAY_OFFSET = 3  # min event date + 3 — present at every SF (30-day span)


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events as ts_date=YYYY-MM-DD/ Hive partitions, once
    per process per sf_dir."""
    return scratch_once(
        "wps_hivepart_",
        sf_dir,
        lambda d: table(spark, sf_dir, "events")
        .withColumn("ts_date", F.to_date("ts"))
        .write.partitionBy("ts_date")
        .mode("overwrite")
        .parquet(d),
    )


@register(
    "layout_partition_prune",
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE CAST(ts AS DATE) =
      (SELECT min(CAST(ts AS DATE)) + {_PART_DAY_OFFSET} FROM events)
GROUP BY event_type ORDER BY event_type
""",
)
def layout_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y154: Hive partition pruning proven end-to-end — events
    materialized as ts_date= directory partitions, then a one-day
    filter aggregated per event_type. The oracle runs the same
    predicate on the PLAIN table (the layout must be semantically
    invisible — the layout-family doctrine). Before returning, the
    entry inspects the physical plan and RAISES unless the date
    equality landed in the scan's PartitionFilters (directory-level
    pruning, zero I/O on the other 29 days) — a layout regression
    turns the driver row red instead of just slow. value summed in
    integer cents."""
    from whisper_pandas_spark.plans.inspect import partition_filters

    d = _partitioned_events(spark, sf_dir)
    day = (
        table(spark, sf_dir, "events")
        .agg(
            F.date_add(F.min(F.to_date("ts")), _PART_DAY_OFFSET).alias("d")
        )
        .collect()[0]["d"]
    )
    q = spark.read.parquet(d).filter(F.col("ts_date") == F.lit(day))
    pf = " ".join(partition_filters(q))
    if "ts_date" not in pf or str(day) not in pf:
        raise RuntimeError(
            f"partition pruning lost: PartitionFilters=[{pf}] lacks the"
            f" ts_date = {day} directory predicate"
        )
    return (
        q.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# -- snapshot diff ---------------------------------------------------------


@register(
    "snapshot_diff_keys",
    oracle="""
WITH old AS (
  SELECT doc_id, text FROM documents
), new AS (
  SELECT doc_id,
         CASE WHEN doc_id % 31 = 0 THEN text || '!' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 5
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, 'fresh doc ' || doc_id AS text
  FROM documents WHERE doc_id < 3
)
SELECT coalesce(old.doc_id, new.doc_id) AS key,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE old.doc_id IS NULL OR new.doc_id IS NULL OR old.text <> new.text
ORDER BY key
""",
)
def snapshot_diff_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y20: table_diff between the documents snapshot and a
    deterministically mutated successor (edits at doc_id%31, deletes at
    doc_id%97==5, three added docs)."""
    from whisper_pandas_spark.operators.diffing import table_diff

    old = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = table(spark, sf_dir, "documents")
    new = (
        base.filter(F.col("doc_id") % 97 != 5)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit("!"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            base.filter(F.col("doc_id") < 3).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.lit("fresh doc "), F.col("doc_id").cast("string")).alias(
                    "text"
                ),
            )
        )
    )
    return table_diff(old, new, "doc_id").orderBy("key")


@register(
    "scd2_user_event_versions",
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
  SELECT user_id AS key, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS valid_to
  FROM changes
)
SELECT key, event_type, valid_from, valid_to, (valid_to IS NULL) AS is_current
FROM v ORDER BY key, valid_from
""",
)
def scd2_user_event_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y21: SCD2 dimension materialization (operators/scd.py) — each
    user's event_type history compressed to versioned rows with
    half-open validity intervals; the oracle replays the identical
    gaps-and-islands SQL. One key-partitioned window, no second
    exchange."""
    from whisper_pandas_spark.operators.scd import scd2_from_log

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    out = scd2_from_log(ev, "user_id", "ts", ["event_type"])
    return out.orderBy("key", "valid_from")


@register(
    "merge_upsert_documents",
    oracle="""
WITH changes AS (
  SELECT doc_id, text || ' [rev]' AS text, false AS is_delete
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 97 <> 2
  UNION ALL
  SELECT doc_id + 500000, 'new doc ' || doc_id, false
  FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT doc_id, NULL, true FROM documents WHERE doc_id % 97 = 2
)
SELECT d.doc_id, d.text FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM changes)
UNION ALL
SELECT doc_id, text FROM changes WHERE NOT is_delete
ORDER BY doc_id
""",
)
def merge_upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y23: relational MERGE (operators/merge.py) — a deterministic
    change set (updates at doc_id%7, three inserts, deletes at
    doc_id%97==2) applied to documents; the oracle recomputes the merged
    state as anti-join + union SQL. One broadcast anti-join, no
    full-table shuffle."""
    from whisper_pandas_spark.operators.merge import merge_changes

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    changes = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 97 != 2))
        .select(
            "doc_id",
            F.concat("text", F.lit(" [rev]")).alias("text"),
            F.lit(False).alias("is_delete"),
        )
        .unionByName(
            docs.where(F.col("doc_id") < 3).select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
                F.lit(False).alias("is_delete"),
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 97 == 2).select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(True).alias("is_delete"),
            )
        )
    )
    out = merge_changes(docs, changes, "doc_id", "is_delete")
    return out.orderBy("doc_id")


@register(
    "merge_partitioned_manifest",
    """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 0
), changes AS (
  SELECT doc_id, lang, n_chars + 10000 AS n_chars, false AS is_delete
  FROM documents WHERE doc_id % 5 = 0 AND lang = 'en'
  UNION ALL
  SELECT doc_id, lang, NULL, true
  FROM base WHERE lang = 'en' AND doc_id % 3 = 0
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT b.doc_id, b.lang, b.n_chars FROM base b
  WHERE b.doc_id NOT IN (SELECT doc_id FROM changes)
  UNION ALL
  SELECT doc_id, lang, n_chars FROM changes WHERE NOT is_delete
)
GROUP BY lang ORDER BY lang
""",
)
def merge_partitioned_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y28+: the PARTITIONED copy-on-write MERGE
    (operators/merge.py:merge_into_parquet_partitioned) — documents
    partitioned by lang, initial load of four-fifths of the corpus,
    then one change batch touching ONLY the 'en' partition (upserts +
    deletes). The entry asserts the manifest actually bounded rewrite
    amplification (v1 wrote the 'en' partition and nothing else;
    untouched languages still serve from v0 — a regression raises, the
    zorder-entry discipline), then returns per-lang aggregates of the
    manifest-resolved live state, which the oracle recomputes
    relationally."""
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        current_version_path,
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    base_df = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "is_delete", F.lit(False)
    )
    t = f"{scratch_dir('wps_pmerge_')}/table"
    merge_into_parquet_partitioned(
        spark, t, base_df, "doc_id", "lang", delete_col="is_delete"
    )
    changes = (
        docs.where((F.col("doc_id") % 5 == 0) & (F.col("lang") == "en"))
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") + 10000).alias("n_chars"),
            F.lit(False).alias("is_delete"),
        )
        .unionByName(
            docs.where(
                (F.col("doc_id") % 5 != 0)
                & (F.col("lang") == "en")
                & (F.col("doc_id") % 3 == 0)
            ).select(
                "doc_id",
                "lang",
                F.lit(None).cast("long").alias("n_chars"),
                F.lit(True).alias("is_delete"),
            )
        )
    )
    merge_into_parquet_partitioned(
        spark, t, changes, "doc_id", "lang", delete_col="is_delete"
    )
    v1 = Path(current_version_path(t))
    written = {p.name for p in (v1 / "data").glob("lang=*")}
    if v1.name != "v1" or written != {"lang=en"}:
        raise RuntimeError(
            f"manifest merge stopped bounding rewrites: {v1.name} wrote "
            f"{sorted(written)}"
        )
    state = read_current_state_partitioned(
        spark, t, "lang", delete_col="is_delete"
    )
    return (
        state.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# -- incremental aggregate maintenance ---------------------------------------


@register(
    "incr_agg_orders",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS __n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS o_totalprice_cents_sum,
       CAST(count(*) AS BIGINT) AS o_totalprice_cents_count
FROM orders
WHERE NOT (o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def incr_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: incremental aggregate maintenance
    (operators/incremental.py) — the materialized-view pattern: build
    the revenue-by-priority state over two thirds of orders, then fold
    in ONE change batch (the remaining third as inserts, every fifth
    base row as a CDC retraction carrying its original values) without
    touching base rows. The oracle recomputes the aggregate over the
    equivalent final row set, so the algebra (sign-folded partial aggs,
    full-outer state merge, emptied-group drop) is value-checked
    end-to-end."""
    from whisper_pandas_spark.operators.incremental import (
        agg_apply,
        agg_state,
    )

    measures = {"o_totalprice_cents": ("sum", "count")}
    orders = table(spark, sf_dir, "orders").withColumn(
        "o_totalprice_cents",
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
    )
    base = orders.filter(F.col("o_orderkey") % 3 != 0)
    state = agg_state(base, ("o_orderpriority",), measures)
    inserts = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "__del", F.lit(False)
    )
    deletes = base.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "__del", F.lit(True)
    )
    cols = ["o_orderpriority", "o_totalprice_cents", "__del"]
    changes = inserts.select(cols).unionByName(deletes.select(cols))
    new_state = agg_apply(
        state, changes, ("o_orderpriority",), measures, delete_col="__del"
    )
    return new_state.orderBy("o_orderpriority")


# -- MERGE add-only schema evolution ------------------------------------------


@register(
    "merge_schema_evolution",
    oracle="""
WITH c1 AS (
  SELECT doc_id, text || ' [v2]' AS text, n_chars / 100.0 AS quality
  FROM documents WHERE doc_id % 5 = 0
), s1 AS (
  SELECT d.doc_id, d.text, CAST(NULL AS DOUBLE) AS quality FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM c1)
  UNION ALL
  SELECT doc_id, text, quality FROM c1
), c2 AS (
  SELECT doc_id, text || ' [v3]' AS text, n_chars / 50.0 AS quality,
         CAST(2 AS INT) AS rev, false AS is_delete
  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 97 <> 3
  UNION ALL
  SELECT doc_id, NULL, NULL, NULL, true
  FROM documents WHERE doc_id % 97 = 3
)
SELECT doc_id, text, round(quality, 6) AS quality, rev FROM (
  SELECT s.doc_id, s.text, s.quality, CAST(NULL AS INT) AS rev FROM s1 s
  WHERE s.doc_id NOT IN (SELECT doc_id FROM c2)
  UNION ALL
  SELECT doc_id, text, quality, rev FROM c2 WHERE NOT is_delete
) ORDER BY doc_id
""",
)
def merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y28+: add-only MERGE schema evolution (operators/merge.py) — the
    Delta/Iceberg ``mergeSchema`` contract on the plain copy-on-write
    MERGE. Batch 1 adds a typed ``quality`` column (every pre-existing
    row null-backfills); batch 2 adds ``rev`` on top AND deletes a key
    slice, proving evolved state keeps merging. The oracle replays both
    merges relationally (anti-join + union with explicit NULL casts)."""
    from whisper_pandas_spark.operators.merge import merge_changes

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    state0 = docs.select("doc_id", "text")
    c1 = docs.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat("text", F.lit(" [v2]")).alias("text"),
        (F.col("n_chars") / 100.0).alias("quality"),
    )
    state1 = merge_changes(state0, c1, "doc_id")
    upserts = docs.where(
        (F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 97 != 3)
    ).select(
        "doc_id",
        F.concat("text", F.lit(" [v3]")).alias("text"),
        (F.col("n_chars") / 50.0).alias("quality"),
        F.lit(2).cast("int").alias("rev"),
        F.lit(False).alias("is_delete"),
    )
    deletes = docs.where(F.col("doc_id") % 97 == 3).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("int").alias("rev"),
        F.lit(True).alias("is_delete"),
    )
    final = merge_changes(
        state1, upserts.unionByName(deletes), "doc_id", "is_delete"
    )
    return final.select(
        "doc_id", "text", F.round("quality", 6).alias("quality"), "rev"
    ).orderBy("doc_id")


# -- bloom file index, driver-verified -----------------------------------------

_BLOOM_M = 1 << 13
_BLOOM_H = 7
_BLOOM_PROBE = (7, 123, 400)


def _bloom_table(spark: SparkSession, sf_dir: str) -> str:
    """documents written as 8 files range-clustered on (lang, n_chars) —
    deliberately NOT on doc_id, so per-file doc_id min/max spans nearly
    the whole id range and statistics-based pruning is useless for a
    doc_id point lookup; once per process per sf_dir."""
    from whisper_pandas_spark.sources.clustered import (
        materialize_range_clustered,
    )

    return scratch_once(
        "wps_bloom_",
        sf_dir,
        lambda d: materialize_range_clustered(
            table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "n_chars"
            ),
            d,
            ["lang", "n_chars"],
            num_files=8,
        ),
    )


@register(
    "layout_bloom_prune",
    oracle=f"""
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id IN ({", ".join(str(v) for v in _BLOOM_PROBE)})
ORDER BY doc_id
""",
)
def layout_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y25+/§4: Bloom FILE index proven end-to-end
    (sources/bloom_index.py) — documents laid out so doc_id min/max
    CANNOT prune (files clustered on (lang, n_chars)), then a 3-key
    doc_id point lookup through the per-file md5-Bloom sidecar. The
    entry RAISES unless the index actually restricted the scan (the
    zorder-entry discipline: a pruning regression turns the driver row
    red, not just slow); Bloom admits no false negatives by
    construction, so results equal the plain relational filter the
    oracle runs."""
    from whisper_pandas_spark.sources.bloom_index import (
        bloom_lookup,
        build_bloom_index,
    )

    d = _bloom_table(spark, sf_dir)
    idx = build_bloom_index(
        spark, d, "doc_id", m_bits=_BLOOM_M, n_hashes=_BLOOM_H
    )
    rows, scanned, total = bloom_lookup(
        spark,
        d,
        idx,
        "doc_id",
        list(_BLOOM_PROBE),
        m_bits=_BLOOM_M,
        n_hashes=_BLOOM_H,
    )
    if total < 4 or scanned > total // 2:
        raise RuntimeError(
            f"bloom index stopped pruning: scanned {scanned}/{total} files "
            f"for a {len(_BLOOM_PROBE)}-key point lookup"
        )
    return rows.select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("doc_id")


# -- CoW compaction, driver-verified -------------------------------------------


@register(
    "merge_compact_state",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY lang ORDER BY lang
""",
)
def merge_compact_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y59+: small-file compaction for partitioned CoW tables
    (operators/merge.py:compact_partitioned — the Delta OPTIMIZE /
    Iceberg rewrite_data_files maintenance op). `documents` lands
    partitioned by lang with a deliberately fragmented write (8-way
    repartition -> up to 8 files per partition); compaction rewrites
    every fragmented partition to one file in a new version while tidy
    partitions keep re-pointing (zero copy). The entry RAISES unless
    compaction actually ran and bounded the per-partition file count
    (the zorder/bloom in-query discipline), then returns per-lang
    aggregates of the live state — which must be UNCHANGED by layout,
    as the oracle's plain relational recompute verifies."""
    from pathlib import Path

    from whisper_pandas_spark.operators.merge import (
        _part_dirs,
        _read_manifest,
        compact_partitioned,
        current_version_path,
        merge_into_parquet_partitioned,
        read_current_state_partitioned,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = f"{scratch_dir('wps_compact_')}/table"
    merge_into_parquet_partitioned(
        spark, t, docs.repartition(8), "doc_id", "lang"
    )
    new_dir, compacted = compact_partitioned(
        spark, t, "lang", max_files_per_partition=1
    )
    if new_dir is None or not compacted:
        raise RuntimeError("fragmented write produced nothing to compact")
    man = _read_manifest(current_version_path(t))
    for p in compacted:
        pdir = _part_dirs(Path(new_dir) / "data", "lang")[p]
        n = len(list(Path(pdir).glob("*.parquet")))
        if n != 1 or man[p] != Path(new_dir).name:
            raise RuntimeError(
                f"compaction left partition {p!r} at {n} files"
            )
    state = read_current_state_partitioned(spark, t, "lang")
    return (
        state.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


# -- incremental join-view maintenance, driver-verified -------------------------


@register(
    "incr_join_view",
    oracle="""
WITH oc AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 13 = 0
              THEN CAST(round(o_totalprice * 100) AS BIGINT) + 500
              ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders WHERE o_orderkey % 97 <> 5
), cc AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END
           AS seg
  FROM customer
)
SELECT seg, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM oc JOIN cc ON oc.o_custkey = cc.c_custkey
GROUP BY seg ORDER BY seg
""",
)
def incr_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y51+: incremental JOIN-view maintenance
    (operators/incremental.py join_view_*) — the materialized
    orders-x-customer view kept current under one change batch per
    side by key-scoped delete+insert (work proportional to the touched
    custkeys' data, not the corpus). Orders batch: +5.00 repricing at
    o_orderkey%13 (touches those orders' custkeys), deletes at
    o_orderkey%97=5; customer batch: segment rewrite at c_custkey%11.
    The maintained view then aggregates per segment; the oracle applies
    the same mutations relationally and recomputes the join from
    scratch — any IVM drift (stale rows surviving, double inserts)
    hash-mismatches. (Plan note: the audited plan recomputes base
    lineage because this self-contained entry derives everything from
    one scan; in production A/B/V are PERSISTED state tables — the
    operator itself is the minimal 2-semi + 1-anti + 1-slice-join
    shape, exchange-free when bucketed on the join key.)"""
    from whisper_pandas_spark.operators.incremental import (
        join_view_apply,
        join_view_touched,
    )
    from whisper_pandas_spark.operators.merge import merge_changes

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("seg"),
    )
    view = orders.join(cust, "o_custkey")

    da = (
        orders.where(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderkey") % 97 != 5)
        )
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("cents") + 500).alias("cents"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 97 == 5).select(
                "o_orderkey",
                "o_custkey",
                F.lit(None).cast("bigint").alias("cents"),
                F.lit(True).alias("del"),
            )
        )
    )
    db = cust.where(F.col("o_custkey") % 11 == 0).select(
        "o_custkey", F.lit("MOVED").alias("seg"), F.lit(False).alias("del")
    )
    orders2 = merge_changes(orders, da, "o_orderkey", "del")
    cust2 = merge_changes(cust, db, "o_custkey", "del")
    touched = join_view_touched(
        da.select("o_custkey"), db.select("o_custkey"), "o_custkey"
    )
    view2 = join_view_apply(view, orders2, cust2, "o_custkey", touched)
    return (
        view2.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("seg")
    )


# -- change data feed, driver-verified -----------------------------------------


@register(
    "merge_change_feed",
    oracle="""
WITH changes AS (
  SELECT doc_id, text || ' [rev]' AS text, false AS is_delete
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 97 <> 2
  UNION ALL
  SELECT doc_id + 500000, 'new doc ' || doc_id, false
  FROM documents WHERE doc_id < 3
  UNION ALL
  SELECT doc_id, NULL, true FROM documents WHERE doc_id % 97 = 2
)
SELECT c.doc_id AS key,
       CASE WHEN c.is_delete THEN 'removed'
            WHEN d.doc_id IS NULL THEN 'added'
            ELSE 'changed' END AS change
FROM changes c LEFT JOIN documents d ON d.doc_id = c.doc_id
ORDER BY key
""",
)
def merge_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y28+/Y20: change-data-feed read over the versioned CoW table
    (operators/merge.py:change_feed, Delta CDF parity on plain
    versioned parquet) — documents merged to v0, the standard mutation
    batch (rev updates at doc_id%7, three inserts, deletes at
    doc_id%97=2) applied as v1, then the (key, change) feed diffed
    BETWEEN THE VERSIONS on disk. The oracle derives the expected feed
    from the change batch itself: every update really changes text
    ([rev] suffix) and every insert uses fresh keys, so batch == feed
    exactly; fingerprint-diff drift (missed changes, phantom rows)
    hash-mismatches."""
    from whisper_pandas_spark.operators.merge import (
        change_feed,
        merge_into_parquet,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    t = f"{scratch_dir('wps_cdf_')}/table"
    merge_into_parquet(spark, t, docs, "doc_id")  # v0
    changes = (
        docs.where((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 97 != 2))
        .select(
            "doc_id",
            F.concat("text", F.lit(" [rev]")).alias("text"),
            F.lit(False).alias("is_delete"),
        )
        .unionByName(
            docs.where(F.col("doc_id") < 3).select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.concat(F.lit("new doc "), F.col("doc_id")).alias("text"),
                F.lit(False).alias("is_delete"),
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 97 == 2).select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit(True).alias("is_delete"),
            )
        )
    )
    merge_into_parquet(spark, t, changes, "doc_id", delete_col="is_delete")
    return change_feed(spark, t, 0, 1, "doc_id").orderBy("key")


# ---------------------------------------------------------------------------
# layout_dynamic_prune
# ---------------------------------------------------------------------------


@register(
    "layout_dynamic_prune",
    oracle="""
WITH days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
  WHERE day(CAST(ts AS DATE)) % 7 = 3
)
SELECT CAST(e.ts AS DATE) AS ts_date, e.event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e JOIN days ON CAST(e.ts AS DATE) = days.d
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def layout_dynamic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y170: runtime Dynamic Partition Pruning — the fourth pruning
    tier (after z-order row-groups, Bloom files, static Hive
    directories). The date dim comes from a SECOND scan with a
    computed predicate (day-of-month mod 7), so NO static rule can
    prune the Hive-partitioned fact: only Catalyst's DPP can, by
    reusing the broadcast of the dim as a directory filter at run
    time. The entry RAISES unless `dynamicpruning` landed in the fact
    scan's PartitionFilters — at 100 TB this is the difference between
    touching ~4 of 30 day-directories and scanning the whole fact.
    The oracle replays the join on the PLAIN table (layout doctrine:
    the layout must be semantically invisible)."""
    from whisper_pandas_spark.plans.inspect import partition_filters

    d = _partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(d)
    dim = (
        table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") % 7 == 3)
    )
    q = (
        fact.join(dim, fact["ts_date"] == dim["d"])
        .groupBy("ts_date", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        .orderBy("ts_date", "event_type")
    )
    pf = " ".join(partition_filters(q))
    if "dynamicpruning" not in pf:
        raise RuntimeError(
            "dynamic partition pruning lost: PartitionFilters="
            f"[{pf}] has no dynamicpruning subquery on ts_date"
        )
    return q


# ---------------------------------------------------------------------------
# merge_deletion_vectors
# ---------------------------------------------------------------------------

_DV_FILES = 4


@register(
    "merge_deletion_vectors",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM documents
WHERE NOT (doc_id % 7 = 3 OR doc_id % 11 = 5)
GROUP BY lang ORDER BY lang
""",
)
def merge_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y184: merge-on-read deletion vectors (operators/deletevec.py)
    — the OTHER lakehouse delete paradigm next to the CoW merge
    family: two delete waves record (file_id, pos) coordinates in
    small DV tables and the read path anti-joins them out; base data
    files are NEVER rewritten, and the entry RAISES unless every base
    parquet byte-size is identical after both waves (the no-rewrite
    property IS the point of MoR — a silent rewrite turns the driver
    row red). The oracle is the plain predicate on the source table:
    the layout-family doctrine, deletes must be semantically
    invisible to the survivors. DV state is deterministic
    (id-derived positions, overwrite-idempotent versions), so
    repeated runs land in identical state."""
    from whisper_pandas_spark.operators.deletevec import (
        add_deletes,
        base_file_state,
        read_with_dv,
        write_base,
    )

    d = scratch_once(
        "wps_dv_",
        sf_dir,
        lambda d: write_base(
            table(spark, sf_dir, "documents"), "doc_id", d, _DV_FILES
        ),
    )
    before = base_file_state(d)

    data = spark.read.parquet(f"{d}/data")
    wave1 = data.filter(F.col("doc_id") % 7 == 3).select("file_id", "pos")
    wave2 = data.filter(F.col("doc_id") % 11 == 5).select("file_id", "pos")
    add_deletes(spark, d, wave1, 0)
    add_deletes(spark, d, wave2, 1)

    after = base_file_state(d)
    if before != after:
        raise RuntimeError(
            "deletion-vector contract broken: base data files changed"
            " on delete (merge-on-read must defer rewrites to"
            " compaction)"
        )
    return (
        read_with_dv(spark, d)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# merge_dv_compaction
# ---------------------------------------------------------------------------


@register(
    "merge_dv_compaction",
    oracle="""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS chars_total,
  CAST(2 AS BIGINT) AS files_rewritten,
  CAST(2 AS BIGINT) AS files_untouched
FROM documents
WHERE NOT (doc_id % 7 = 3 AND doc_id % 4 IN (0, 2))
GROUP BY lang ORDER BY lang
""",
)
def merge_dv_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y185: DV compaction — the deferred half of the merge-on-read
    lifecycle ([[Y184]] defers rewrites; this entry performs them):
    fold the recorded deletion vectors into the base by rewriting
    ONLY the files that carry deletes (file-granular — the CoW
    partitioned-manifest rewrite bound), leave the rest byte-
    identical, and clear the DV state. The delete wave targets half
    the files (doc_id%4 in (0,2)), so the entry RAISES unless exactly
    2 of 4 files were rewritten AND the 2 untouched files' bytes are
    identical — both halves of the compaction contract driver-checked.
    Survivors after compaction must equal the DV read before it (the
    oracle's plain predicate). Idempotent: a re-run finds no deleted
    rows to re-record and rewrites nothing."""
    from whisper_pandas_spark.operators.deletevec import (
        add_deletes,
        base_file_state,
        compact_dv,
        read_with_dv,
        write_base,
    )

    d = scratch_dir("wps_dvc_")
    docs = table(spark, sf_dir, "documents")
    write_base(docs, "doc_id", d, _DV_FILES)
    data = spark.read.parquet(f"{d}/data")
    wave = data.filter(
        (F.col("doc_id") % 7 == 3) & (F.col("doc_id") % 4).isin(0, 2)
    ).select("file_id", "pos")
    add_deletes(spark, d, wave, 0)
    before = base_file_state(d)
    counts = compact_dv(spark, d)
    after = base_file_state(d)
    if counts != {"rewritten": 2, "untouched": 2}:
        raise RuntimeError(
            f"compaction rewrite bound broken: {counts} (expected"
            " exactly the 2 delete-carrying files rewritten)"
        )
    for f, sz in after.items():
        if f.startswith(("file_id=1/", "file_id=3/")) and before.get(f) != sz:
            raise RuntimeError(
                f"untouched file changed during compaction: {f}"
            )
    return (
        read_with_dv(spark, d)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
        .select(
            "lang",
            "n_docs",
            "chars_total",
            F.lit(counts["rewritten"]).cast("bigint").alias(
                "files_rewritten"
            ),
            F.lit(counts["untouched"]).cast("bigint").alias(
                "files_untouched"
            ),
        )
        .orderBy("lang")
    )
