"""Physical-plan regression tests: the properties that decide whether a
plan survives 100 TB (SURVEY.md §4). A query that silently loses filter
pushdown or broadcasts stops being scale-safe long before it stops being
correct — these tests pin the plan shape, not the results."""

from __future__ import annotations

import pytest

from whisper_pandas_spark.plans.inspect import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
)
from whisper_pandas_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_q1_filter_reaches_parquet_scan(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed  # predicate pushdown into the scan
    # partial (map-side) + final aggregation — the shuffle carries one row
    # per group, not per lineitem row
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_filter_project_cast_pushdown(spark):
    df = QUERIES["filter_project_cast"](spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "EqualTo(event_type" in pushed


def test_sort_topk_never_total_sorts(spark):
    # orderBy + limit must plan TakeOrderedAndProject (per-partition top-k
    # + merge), not a global Sort — a total sort of 100 TB is a job killer
    plan = formatted_plan(QUERIES["sort_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_small_dims(spark):
    df = QUERIES["join_star_q3ish"](spark, SF)
    assert has_broadcast_join(df)  # dims broadcast; fact table never shuffles


def test_similarity_broadcasts_query_side(spark):
    df = QUERIES["sim_topk_bruteforce"](spark, SF)
    assert has_broadcast_join(df)  # corpus scans once, query set ships to it


def test_similarity_topk_is_two_stage(spark):
    # The per-query rank must NOT shuffle every scored row into #queries
    # partitions: stage 1 ranks per (query_id, SPARK_PARTITION_ID()) —
    # balanced at any cluster width — and only the k survivors per
    # partition reach the per-query window.
    plan = formatted_plan(QUERIES["sim_topk_bruteforce"](spark, SF))
    assert "SPARK_PARTITION_ID" in plan, plan
    first = plan.find("hashpartitioning(query_id")
    assert first != -1, plan
    # the first query_id exchange also keys on the partition id
    assert "SPARK_PARTITION_ID" in plan[first : first + 200] or "pid" in plan[
        first : first + 200
    ], plan[first : first + 200]


def test_ivf_build_side_partial_aggregates(spark):
    # nprobe=1 assignment reduces with groupBy+max_by: partial (map-side)
    # aggregation means the shuffle ships one pre-reduced row per vector,
    # not K scored rows per vector into a window sort.
    from whisper_pandas_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = emb.limit(8)
    plan = formatted_plan(ivf_assign(emb, cent, 1))
    # struct-typed agg buffers plan as SortAggregate; the property that
    # matters is the partial_max_by before the exchange
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan


def test_rollup_is_single_shuffle(spark):
    # one groupBy -> exactly one Exchange; partial agg before it
    plan = formatted_plan(QUERIES["rollup_average"](spark, SF))
    # Exactly two exchanges: one hash partition for the agg, one range
    # partition for the final orderBy — anything more means the bucket
    # expression broke partial aggregation.
    import re

    tree_exchanges = [
        ln for ln in plan.splitlines() if re.match(r"\(\d+\) Exchange$", ln.strip())
    ]
    assert len(tree_exchanges) == 2, plan
    assert "hashpartitioning" in plan and "rangepartitioning" in plan
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # co-located join: both sides bucketed on the key with the same
    # bucket count -> the sort-merge join must read bucket layout from
    # the catalog and skip BOTH exchanges (the "materialize once, join
    # forever" pattern for 100 TB fact tables)
    from whisper_pandas_spark.sources.bucketed import materialize_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    materialize_bucketed(
        orders, "b_orders", "o_orderkey", 4,
        sort_cols="o_orderkey", path=str(tmp_path / "b_orders"),
    )
    materialize_bucketed(
        lineitem, "b_lineitem", "l_orderkey", 4,
        sort_cols="l_orderkey", path=str(tmp_path / "b_lineitem"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey
            == spark.table("b_orders").o_orderkey,
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_registry_bucketed_join_elides_join_exchanges(spark):
    # the driver-checked entry: the join itself must add NO exchange
    # (bucket layout from the catalog) — the only shuffles in the plan
    # are the groupBy's hash exchange and the orderBy's range exchange
    import re

    from whisper_pandas_spark.queries_materialize import join_bucketed_colocated

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(join_bucketed_colocated(spark, SF))
        assert "SortMergeJoin" in plan, plan
        exchanges = [
            ln for ln in plan.splitlines()
            if re.match(r"\(\d+\) Exchange$", ln.strip())
        ]
        assert len(exchanges) == 2, plan  # agg hash + sort range only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", ["dedup_exact", "text_quality"])
def test_scan_only_reads_needed_columns(spark, name):
    # column pruning: the documents scan must not read doc columns the
    # query never touches (lang/source are untouched by these two)
    plan = formatted_plan(QUERIES[name](spark, SF))
    schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schema_lines, plan
    assert "source" not in " ".join(schema_lines)


def test_round4_entries_have_scale_safe_plans(spark):
    """Round-4 additions: no cartesian product anywhere, broadcasts where
    a small side exists, two-stage rank where a per-query top-k runs."""
    equi = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    cases = {
        # entry -> (required fragments, forbidden fragments, needs equi join)
        # int8_topk is the documented exhaustive BASELINE: broadcast
        # nested-loop over the broadcast query side is its intended shape
        "emb_int8_topk": (["BroadcastNestedLoopJoin", "SPARK_PARTITION_ID"], [], False),
        "emb_int8_ivf_topk": (["BroadcastHashJoin", "SPARK_PARTITION_ID"], ["CartesianProduct"], True),
        "sim_topk_lsh_multi": (["BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"], True),
        # trained IVF: the default path checkpoints the trainer, so the
        # downstream tree must stay bounded (one iteration's exchanges)
        "sim_topk_ivf_trained": (["BroadcastHashJoin"], ["CartesianProduct"], True),
        "text_bm25_topk": (["TakeOrderedAndProject", "BroadcastHashJoin"], ["CartesianProduct"], True),
        "dedup_substring_spans": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"], True),
    }
    for name, (need, forbid, needs_equi) in cases.items():
        plan = formatted_plan(QUERIES[name](spark, SF))
        if needs_equi:
            assert any(j in plan for j in equi), f"{name}: no equi-join found"
        for frag in need:
            assert frag in plan, f"{name}: missing {frag}"
        for frag in forbid:
            assert frag not in plan, f"{name}: must not contain {frag}"


def test_trained_ivf_default_plan_bounded_in_iters(spark):
    """The DEFAULT trained-IVF path must carry the checkpointed trainer:
    its plan holds ONE Lloyd iteration's exchanges (r3's single tree
    measured 17), so training depth can't bloat the serving plan."""
    import re

    def exchanges(name: str) -> int:
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bExchange\b", plan))

    n_default = exchanges("sim_topk_ivf_trained")
    n_single = exchanges("sim_topk_ivf_single_tree")
    assert n_default <= 8, f"expected a bounded plan, got {n_default} exchanges"
    # and the labelled baseline really is the unbounded twin
    assert n_single > n_default, (n_single, n_default)


def test_pii_redact_is_scan_shaped(spark):
    """text_pii_redact: codegen regex pass — no Python eval, no
    aggregation, and the only exchange is the presentation sort."""
    import re

    plan = formatted_plan(QUERIES["text_pii_redact"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    exchanges = [
        ln for ln in plan.splitlines() if re.match(r"\(\d+\) Exchange$", ln.strip())
    ]
    assert len(exchanges) <= 1, plan
    assert "HashAggregate" not in plan


def test_staged_entries_have_scale_safe_plans(spark):
    """Pin the round-6 entries' plan shapes: per-series graphite
    windows must partition by metric (never a global window over the
    raw series), and the LM scorer must stay JVM-side with no cartesian
    product on two large sides."""
    import re

    from whisper_pandas_spark.registry import QUERIES

    def plan_of(name):
        return formatted_plan(QUERIES[name](spark, SF))

    p = plan_of("graphite_per_second")
    # the lag window runs partitioned: a partition-less Window over the
    # full series table would single-thread 100 TB
    assert re.search(r"Window .*metric", p) or "partitionBy" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = plan_of("text_lm_bigram_score")
    assert "CartesianProduct" not in p  # only the broadcast 1-row vocab
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("HashAggregate") >= 4  # partial+final for both counts

    p = plan_of("snapshot_diff_keys")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_new_staged_entries_plan_shapes(spark):
    """Plan pins for the late-round-5 entries: summarize is one
    partial-agg exchange; the SCD2 window partitions by the key; the
    archive inventory never shuffles payload rows (scan-shaped Arrow
    pass + sort only for the oracle's determinism)."""
    from whisper_pandas_spark.registry import QUERIES

    def plan_of(name):
        return formatted_plan(QUERIES[name](spark, SF))

    p = plan_of("graphite_summarize")
    assert p.count("HashAggregate") >= 2  # map-side partial + final
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p

    p = plan_of("scd2_user_event_versions")
    assert "user_id" in p and "Window" in p  # key-partitioned windows
    assert "CartesianProduct" not in p
    # change detection + interval assignment must not add a second
    # shuffle beyond the key partition (windows share the partitioning)
    assert p.count("Exchange hashpartitioning") <= 1

    p = plan_of("mm_archive_inventory")
    assert "CartesianProduct" not in p
    # payload rows flow scan -> Arrow extraction; the only exchange is
    # the final orderBy range partition the oracle comparison needs
    assert "Exchange hashpartitioning" not in p


def test_funnel_and_merge_staged_plans(spark):
    """Funnel stays window-algebra (no joins, no Python, no cartesian);
    MERGE applies the change set via broadcast joins — the full table
    never hash-shuffles."""
    from whisper_pandas_spark.registry import QUERIES

    def plan_of(name):
        return formatted_plan(QUERIES[name](spark, SF))

    p = plan_of("funnel_view_click_purchase")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert p.count("Window") >= 3  # one conditional min per funnel step
    assert "SortMergeJoin" not in p  # steps compose as windows, not joins

    p = plan_of("merge_upsert_documents")
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 1  # anti-join broadcasts keys
    assert "Exchange hashpartitioning" not in p  # table rows never shuffle


def test_pagerank_checkpointed_plan_constant_in_iters(spark):
    """The iterative-training shape: with per-iteration localCheckpoint
    the final plan holds ONE iteration's operators over a LogicalRDD,
    so exchange count must NOT grow with iters (kmeans measured 17 -> 5
    without/with; pagerank gets the same guarantee)."""
    from whisper_pandas_spark.operators.graph import pagerank

    df = spark.createDataFrame(
        [(i, (i * 5) % 11) for i in range(11) if i != (i * 5) % 11],
        "src long, dst long",
    )

    def n_exchanges(iters):
        plan = (
            pagerank(df, iters)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        return plan.count("Exchange")

    assert n_exchanges(2) == n_exchanges(6) == 0  # checkpointed leaf only


def test_incremental_agg_apply_plan_shape(spark):
    """agg_apply: the change batch partial-aggregates before the ONE
    key join with state; no broadcast of the (potentially huge) state,
    no extra shuffles beyond the two aggs + join."""
    import re

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.incremental import (
        agg_apply,
        agg_state,
    )

    df = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("x")
    )
    state = agg_state(df, ("k",), {"x": ("sum", "count")})
    changes = df.limit(100).withColumn("d", F.lit(False))
    plan = formatted_plan(
        agg_apply(state, changes, ("k",), {"x": ("sum", "count")}, "d")
    )
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 4, plan[:2000]
    assert plan.count("HashAggregate") >= 4  # partial+final for both sides


def test_topk_sketch_build_single_corpus_exchange(spark):
    """topk_shard_sketches: the only corpus-keyed exchange is the
    (keys, item) partial aggregation; everything after runs on the
    aggregated (group, item) rows."""
    import re

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import topk_shard_sketches

    df = spark.range(5000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 40).alias("item")
    )
    plan = formatted_plan(topk_shard_sketches(df, ("g",), "item", 10))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 3, plan[:2000]
    assert "partial_count" in plan  # map-side combine on the corpus agg


def test_image_features_is_scan_shaped(spark):
    """image_features: mapInPandas over the scan — zero exchanges, the
    payload bytes never shuffle."""
    import re

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.multimodal import image_features

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.encode(F.lit("P5\n2 2\n255\nabcd"), "utf-8").alias("payload"),
    )
    plan = formatted_plan(image_features(df, "doc_id"))
    assert not re.search(r"\(\d+\) Exchange", plan), plan[:1500]


def test_round7b_plan_shapes(spark):
    """Round-7b scale pins: the checkpointed derived tables must keep the
    static plans bounded — triangle counting a handful of exchanges over
    the materialized oriented-edge table (not 90+ re-derivations),
    collocations/top-k entries compiling to TakeOrderedAndProject."""
    import re

    from whisper_pandas_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    plan_tri = formatted_plan(QUERIES["graph_triangle_count"](spark, sf))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan_tri))
    assert n_ex <= 8, f"triangle count re-derives its edge table: {n_ex} exchanges"
    assert "TakeOrderedAndProject" in plan_tri

    plan_col = formatted_plan(QUERIES["text_collocations_lift"](spark, sf))
    assert "TakeOrderedAndProject" in plan_col
    assert len(re.findall(r"\(\d+\) Exchange", plan_col)) <= 4

    plan_mad = formatted_plan(QUERIES["anomaly_robust_mad"](spark, sf))
    assert len(re.findall(r"\(\d+\) Exchange", plan_mad)) <= 8

    # Q19: the disjunctive predicate must leave extracted per-side
    # conjuncts below the join (brand IN (...) pushed to the part scan)
    plan_q19 = formatted_plan(QUERIES["join_q19ish_disjunctive"](spark, sf))
    assert "PushedFilters" in plan_q19


def test_round7c_tpch_plan_shapes(spark):
    """Third-wave TPC-H pins: Q6's predicates reach the scan; Q8/Q9
    broadcast every dim (no sort-merge joins); Q20 scans lineitem
    exactly once (its (part,supplier) aggregate is checkpointed)."""
    import re

    from whisper_pandas_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    p6 = formatted_plan(QUERIES["join_q6ish_filter_agg"](spark, sf))
    assert "PushedFilters" in p6 and len(re.findall(r"\(\d+\) Exchange", p6)) <= 1

    for name in ("join_q8ish_market_share", "join_q9ish_profit"):
        p = formatted_plan(QUERIES[name](spark, sf))
        assert not re.search(r"\(\d+\) SortMergeJoin", p), name
        assert "BroadcastHashJoin" in p, name

    p20 = formatted_plan(QUERIES["join_q20ish_nested_agg"](spark, sf))
    n_scans = len(re.findall(r"Scan parquet", p20))
    assert n_scans <= 3, f"q20ish re-scans its inputs: {n_scans} scans"


def test_round9_plan_shapes(spark):
    """Round-9 scale pins, updated round 13: the trained lang-ID's
    original law was "the corpus must never shuffle on ngram against a
    hash-partitioned profile" (profiles join by broadcast). The Arrow
    rewrite satisfies it by construction — the collected L x K profile
    rides the mapInPandas closure, so classification has NO join and NO
    corpus-side gram exchange at all; the pin now asserts that stronger
    shape. The cross-series percentile's two window passes must still
    share a single timestamp exchange."""
    import re

    from whisper_pandas_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    plan_ct = formatted_plan(QUERIES["text_lang_id_trained"](spark, sf))
    ct_lines = [
        ln for ln in plan_ct.splitlines()
        if re.match(r"\(\d+\) MapInPandas$", ln.strip())
    ]
    assert len(ct_lines) == 1  # one Arrow classify stage
    # no gram-keyed corpus shuffle: only the _spread repartition and the
    # final presentation sort may exchange
    n_ct_ex = len(re.findall(r"\(\d+\) Exchange", plan_ct))
    assert n_ct_ex <= 2, plan_ct
    # no row-at-a-time Python anywhere in the classification pipeline
    assert "BatchEvalPython" not in plan_ct

    plan_p = formatted_plan(QUERIES["graphite_percentile_of_series"](spark, sf))
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan_p))
    # grid agg exchange + ONE timestamp exchange shared by both windows +
    # presentation range sort — a fourth would mean the rank-pick windows
    # stopped sharing their partitioning
    assert n_ex <= 3, f"percentileOfSeries plan grew an exchange: {n_ex}"
    assert plan_p.count("(9) Window") + plan_p.count("Window") >= 2


def test_round11_plan_shapes(spark):
    """Round-11 scale pins. text_repetition_profile: the only Exchanges
    are the gram frequency group, the per-doc pivot, the tops-side join
    distribution, and the presentation sort — and nothing falls out of
    codegen into row-at-a-time Python. graphite_series_by_tag: the
    matched-series set reaches the points by a LEFT SEMI join (broadcast
    at any realistic tagdb size) — the fact side must NOT shuffle on
    metric. text_bpe_bytes: the encode half is one MapInPandas over
    UNIQUE pre-tokens joined back — no Python over the full stream."""
    import re

    from whisper_pandas_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"

    plan_rep = formatted_plan(QUERIES["text_repetition_profile"](spark, sf))
    assert "BatchEvalPython" not in plan_rep
    assert "ArrowEvalPython" not in plan_rep  # pure JVM expressions
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan_rep))
    assert n_ex <= 5, f"repetition profile grew an exchange: {n_ex}"

    plan_tag = formatted_plan(QUERIES["graphite_series_by_tag"](spark, sf))
    assert "LeftSemi" in plan_tag
    assert "BatchEvalPython" not in plan_tag

    plan_bpe = formatted_plan(QUERIES["text_bpe_bytes"](spark, sf))
    assert "MapInPandas" in plan_bpe
    assert "BatchEvalPython" not in plan_bpe
    # the Arrow pass feeds a join back to the positional stream
    assert "Join" in plan_bpe


def test_no_forward_unbounded_window_frames(spark):
    """Regression guard (round 11): a (CURRENT ROW, UNBOUNDED FOLLOWING)
    window frame makes Spark re-scan the partition tail for EVERY row —
    O(rows²) per partition (resample_gapfill measured 149 s -> 1.8 s at
    sf0.1 after rewriting it as a reversed-order running frame). Full
    two-sided unbounded frames are fine (computed once per partition);
    only the forward-unbounded shape is banned. Checked on the entries
    that historically used it plus the per-series window family."""
    for name in (
        "resample_gapfill",
        "graphite_interpolate",
        "graphite_keep_last",  # may not exist; skipped below
        "window_moving_avg_time",
        "join_asof",
    ):
        from whisper_pandas_spark.registry import QUERIES

        if name not in QUERIES:
            continue
        plan = formatted_plan(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING" not in plan, name


def test_round12_plan_shapes(spark):
    """Round-12 scale pins. phash_neardup_pairs (pre-checkpoint): the
    dHash pass is ONE MapInPandas (never row-at-a-time Python), pairs
    come from a band-key equi-join with bit_count verification — no
    nested-loop cross join. dedup_paragraph_exact: winner election is a
    partial aggregation (map-side combine on the md5 key) and the
    reassembly is an ordinary hash aggregate — no Window over the full
    paragraph stream. text_url_domain_key: codegen only (also pinned in
    tests/test_round12.py)."""
    import re

    import numpy as np

    from whisper_pandas_spark.operators.multimodal import phash_neardup_pairs
    from whisper_pandas_spark.plans.inspect import formatted_plan as fp

    def _pgm(img):
        h, w = img.shape
        return f"P5\n{w} {h}\n255\n".encode() + img.astype(np.uint8).tobytes()

    imgs = spark.createDataFrame(
        [
            (i, _pgm(np.random.default_rng(i).integers(0, 200, (16, 18),
                                                       dtype=np.uint8)))
            for i in range(4)
        ],
        "doc_id long, payload binary",
    )
    pairs = phash_neardup_pairs(imgs, "doc_id")
    plan = formatted_plan(pairs)
    assert "MapInPandas" in plan
    # the fingerprint base is persisted, so both join sides read the
    # cache instead of re-running the Arrow decode pass
    assert "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()

    sf = "/root/testdata/sf0.001"
    plan_para = formatted_plan(QUERIES["dedup_paragraph_exact"](spark, sf))
    assert "partial_min" in plan_para or "partial" in plan_para
    assert "BatchEvalPython" not in plan_para
    assert "Window" not in plan_para


def test_round12_perceptual_pair_plans(spark):
    """Audio/video near-dup pair plans (pre-checkpoint), same pins as
    the phash audit: one Arrow pass family (never row-at-a-time
    Python), cached fingerprint base consumed by both join sides, band
    equi-join with bit_count verification, no cartesian product."""
    import numpy as np

    from whisper_pandas_spark.functions.codecs import encode_gif, encode_wav
    from whisper_pandas_spark.operators.multimodal import (
        audio_neardup_pairs,
        video_neardup_pairs,
    )

    clips = spark.createDataFrame(
        [
            (i, encode_wav(
                np.random.default_rng(i).integers(
                    -20000, 20000, 1056, dtype=np.int64
                ).astype(np.int16), 8000))
            for i in range(3)
        ],
        "doc_id long, payload binary",
    )
    pa = audio_neardup_pairs(clips, "doc_id")
    plan = formatted_plan(pa)
    assert "MapInPandas" in plan and "InMemoryTableScan" in plan
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan
    assert "bit_count" in plan
    for c in getattr(pa, "_wps_cached", []):
        c.unpersist()

    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    vids = spark.createDataFrame(
        [
            (i, encode_gif(
                [np.random.default_rng(10 * i + f).integers(
                    0, 200, (16, 18), dtype=np.uint8) for f in range(4)],
                gray))
            for i in range(3)
        ],
        "doc_id long, payload binary",
    )
    pv = video_neardup_pairs(vids, "doc_id")
    plan_v = formatted_plan(pv)
    assert "MapInPandas" in plan_v and "InMemoryTableScan" in plan_v
    assert "BatchEvalPython" not in plan_v and "CartesianProduct" not in plan_v
    for c in getattr(pv, "_wps_cached", []):
        c.unpersist()


def test_domain_quota_window_reads_materialized_keys(spark):
    """Regression guard (round 12): WindowGroupLimit's map-side partial
    sort must NOT fuse the full URL-keying expression tree — that
    generated method exceeded janino's 64KB limit and dropped the stage
    to interpreted eval. The quota window's input must be the
    materialized (doc_id, reg_domain) checkpoint, i.e. a plain
    ExistingRDD/LocalTableScan-style source, not the expression
    subtree."""
    plan = formatted_plan(
        QUERIES["sample_domain_quota"](spark, "/root/testdata/sf0.001")
    )
    assert "WindowGroupLimit" in plan
    assert "regexp_extract" not in plan  # keying evaluated before checkpoint
    assert "Scan ExistingRDD" in plan


def test_round12b_plan_shapes(spark):
    """Round-12b scale pins.

    - c4/html/span: ZERO exchanges before the final sort — the cleaning
      work rides the scan (one Exchange total, from orderBy).
    - winnowing: exactly TWO exchanges (the doc-id window shuffle + the
      final sort); the distinct must stay partition-local (doc id is
      among its grouping keys), and there must be no Python in the plan.
    - HLL rollup: the raw-data exchange is a partial aggregation
      (map-side MAX combine) and the closed-form rho keeps bit_count in
      the plan (no per-row sequence/filter scan).
    - KN trigram: the count tables and scoring join read the
      MATERIALIZED stream/c123 roots — exchange count stays bounded
      (the 20-exchange re-derivation shape is banned).
    - web pipeline: same materialized-base bound, and the per-domain
      quota must compile to WindowGroupLimit.
    """
    import re

    sf = "/root/testdata/sf0.001"

    def exchanges(plan: str) -> int:
        return len(
            [ln for ln in plan.splitlines()
             if re.match(r"\(\d+\) Exchange$", ln.strip())]
        )

    for name in ("text_c4_line_filter", "text_html_strip",
                 "text_span_corruption"):
        plan = formatted_plan(QUERIES[name](spark, sf))
        assert exchanges(plan) <= 1, (name, plan)
        assert "BatchEvalPython" not in plan, name

    # round-14: winnowing is per-document local, so the query path is
    # the Arrow deque pass — no corpus (doc, pos) window exchange; the
    # only exchanges are the _spread repartition and the final sort
    plan = formatted_plan(QUERIES["text_winnow_fingerprints"](spark, sf))
    assert exchanges(plan) <= 2, plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan  # the Arrow winnow pass
    assert "Window" not in plan  # the corpus-wide window form is gone

    plan = formatted_plan(QUERIES["sketch_hll_rollup"](spark, sf))
    assert "partial_max" in plan or "partial" in plan
    assert "bit_count" in plan
    assert "sequence(" not in plan  # the interpreted rho scan is banned

    plan = formatted_plan(QUERIES["text_kn_trigram_score"](spark, sf))
    assert exchanges(plan) <= 12, exchanges(plan)
    assert plan.count("Scan ExistingRDD") >= 2  # materialized tri + c123

    # round-14 fused funnel: the quota stage's row_number is consumed as
    # a per-row FLAG inside one conditional aggregate (no rank filter,
    # so no WindowGroupLimit can apply), the three stage-count left
    # joins are gone, and the checkpoint is scanned once — pin the
    # fused shape instead of the old staged one
    plan = formatted_plan(QUERIES["pipeline_web_end_to_end"](spark, sf))
    assert exchanges(plan) <= 6, exchanges(plan)
    assert "SortMergeJoin" not in plan
    assert plan.count("Window") >= 2  # dedup keeper + quota rank windows


def test_round12b_arrow_stages_are_mapinpandas(spark):
    """kmeans/RP/PCA/ABTT assign/project passes must be Arrow
    (MapInPandas), never row-at-a-time Python (BatchEvalPython), and
    the literal-centroid HOF fold shape is banned (zip_with in the
    assign plan was the sf1 super-linear interpreter path)."""
    sf = "/root/testdata/sf0.001"
    for name in ("emb_kmeans_int8", "emb_rp_topk", "emb_pca_top_component",
                 "emb_abtt_topk"):
        plan = formatted_plan(QUERIES[name](spark, sf))
        assert "BatchEvalPython" not in plan, name
    # the final assign stage of kmeans is an Arrow pass
    plan = formatted_plan(QUERIES["emb_kmeans_int8"](spark, sf))
    assert "MapInPandas" in plan
    assert "zip_with" not in plan


def test_round13_guard_law_plan_pins(spark):
    """Round-13 structural pins (VERDICT r12 #7): the r12b composites'
    guard laws must be visible in the PLAN, not just measured.

    - pipeline_web_end_to_end / emb_rp_topk / dedup_winnow_pairs: no
      cartesian product anywhere — the banding (winnowing fingerprint
      equi-join) and the max_fp_docs fan-out guard keep joins keyed.
      emb_rp_topk's scoring join is a BroadcastNestedLoopJoin BY
      DESIGN (corpus x small broadcast query set — the brute-force ANN
      idiom; the build side being a broadcast IS the guard), so the
      nested-loop ban applies to the others only.
    - dedup_winnow_pairs: the distinct (id, fp) table is materialized
      ONCE (round-14: without the barrier the Arrow fingerprint build
      re-ran once per consumer — 4x), so the returned plan joins
      checkpoint reads; never row-at-a-time Python.
    - the round-13 entries: byte-span dedup is pure codegen (no Python
      at all); the compression-ratio pass is exactly ONE Arrow stage
      and zero exchanges before the final sort; the multimodal
      curation chain is keyed end to end (no cartesian).
    """
    import re

    def exchanges(plan: str) -> int:
        return len(
            [ln for ln in plan.splitlines()
             if re.match(r"\(\d+\) Exchange$", ln.strip())]
        )

    for name in ("pipeline_web_end_to_end", "emb_rp_topk",
                 "dedup_winnow_pairs", "pipeline_multimodal_curation",
                 "dedup_duplicate_spans_bytes", "text_compression_ratio"):
        plan = formatted_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        if name != "emb_rp_topk":
            assert "BroadcastNestedLoopJoin" not in plan, name

    plan = formatted_plan(QUERIES["dedup_winnow_pairs"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan  # the materialized (id, fp) barrier

    plan = formatted_plan(QUERIES["dedup_duplicate_spans_bytes"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    plan = formatted_plan(QUERIES["text_compression_ratio"](spark, SF))
    arrow_stages = [
        ln for ln in plan.splitlines()
        if re.match(r"\(\d+\) MapInPandas$", ln.strip())
    ]
    assert len(arrow_stages) == 1
    assert exchanges(plan) <= 1  # only the final orderBy
    assert "BatchEvalPython" not in plan


def test_round13b_plan_shapes(spark):
    """Round-13b structural pins.

    - text_token_entropy: both log2-lookup joins BROADCAST (the pinned
      table must never shuffle the corpus side); no cartesian; no
      Python anywhere (the per-doc fold is an expression, not a UDF).
    - text_dsir_weights / sample_temperature_lang: the only
      nested-loop join is the SCALAR broadcast (1-row totals frame) —
      the scalar-subquery idiom; the bulk join onto the corpus is a
      BroadcastHashJoin; no cartesian.
    - dedup_semdedup: exactly ONE grouped-Arrow cell stage
      (FlatMapGroupsInPandas) and ONE map-side Arrow assign
      (MapInPandas) in the returned plan; no cartesian — the cell
      quadratic lives INSIDE applyInPandas, never as a join.
    """
    import re

    def nodes(plan: str, name: str) -> int:
        return len(
            [ln for ln in plan.splitlines()
             if re.match(rf"\(\d+\) {name}($| )", ln.strip())]
        )

    plan = formatted_plan(QUERIES["text_token_entropy"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert nodes(plan, "BroadcastExchange") == 2  # the two log2 lookups
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    for name in ("text_dsir_weights", "sample_temperature_lang"):
        plan = formatted_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert nodes(plan, "BroadcastNestedLoopJoin") == 1, name  # scalar
        assert "BroadcastHashJoin" in plan, name  # the bulk-side join
        assert "BatchEvalPython" not in plan, name

    plan = formatted_plan(QUERIES["dedup_semdedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert nodes(plan, "FlatMapGroupsInPandas") == 1
    assert nodes(plan, "MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_round14_plan_shapes(spark):
    """Round-14 structural pins (CommonCrawl companions).

    - ingest_cdx_index / ingest_wat_metadata: exactly ONE Arrow stage
      (the WARC byte parse, MapInPandas) over the binaryFile scan; the
      index/metadata derivation itself is pure codegen (no
      BatchEvalPython); the only exchange is the CDX sort contract.
    - warc_selective_fetch: the fetch is ONE grouped-Arrow stage
      (FlatMapGroupsInPandas) whose input is the INDEX rows — the
      shuffle moves (file, offset, length) triples, never payloads;
      no cartesian.
    """
    import re

    def nodes(plan: str, name: str) -> int:
        return len(
            [ln for ln in plan.splitlines()
             if re.match(rf"\(\d+\) {name}($| )", ln.strip())]
        )

    for name in ("ingest_cdx_index", "ingest_wat_metadata"):
        plan = formatted_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert nodes(plan, "MapInPandas") == 1, name
        assert "FlatMapGroupsInPandas" not in plan, name
        assert "BatchEvalPython" not in plan, name

    plan = formatted_plan(QUERIES["warc_selective_fetch"](spark, SF))
    assert "CartesianProduct" not in plan
    assert nodes(plan, "FlatMapGroupsInPandas") == 1
    assert nodes(plan, "MapInPandas") == 1  # the CDX build feeding it
    assert "BatchEvalPython" not in plan


def test_round14b_plan_shapes(spark):
    """Second-wave round-14 pins.

    - ingest_wet_roundtrip: same shape contract as the WARC roundtrip —
      ONE Arrow parse stage, no Python elsewhere, no cartesian.
    - sample_doremi_mixture: the bulk join onto documents is a
      BroadcastHashJoin of the K-row rate table (the
      temperature_rebalance shape); no cartesian beyond the 1-row
      scalar broadcasts; the md5 gate is codegen (no BatchEvalPython).
    - pipeline_web_mojibake: the corrupt+repair stage must ride the
      scan — plan shape identical in kind to the plain funnel (no new
      Arrow stage, no new exchange from the encoding stage).
    """
    import re

    def nodes(plan: str, name: str) -> int:
        return len(
            [ln for ln in plan.splitlines()
             if re.match(rf"\(\d+\) {name}($| )", ln.strip())]
        )

    plan = formatted_plan(QUERIES["ingest_wet_roundtrip"](spark, SF))
    assert "CartesianProduct" not in plan
    assert nodes(plan, "MapInPandas") == 1
    assert "BatchEvalPython" not in plan

    plan = formatted_plan(QUERIES["sample_doremi_mixture"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    plain = formatted_plan(QUERIES["pipeline_web_end_to_end"](spark, SF))
    moji = formatted_plan(QUERIES["pipeline_web_mojibake"](spark, SF))
    for name in ("MapInPandas", "FlatMapGroupsInPandas", "Exchange"):
        assert nodes(moji, name) == nodes(plain, name), name
    assert "BatchEvalPython" not in moji


def test_round14c_plan_shapes(spark):
    """Third-wave round-14 pins (linkage / CCNet / DPP).

    - er_record_linkage / er_golden_record: the whole ER family is
      JVM codegen — blocking is two equi-joins unioned (an OR-join
      would plan BroadcastNestedLoop and die at scale), scoring is
      levenshtein/CASE built-ins; zero Python stages.
    - text_ccnet_buckets: the bucketing adds NO Python to the KN plan
      (rank-thirds is a window + CASE); no cartesian.
    - layout_dynamic_prune: the fact scan must carry a dynamicpruning
      PartitionFilter fed by a BroadcastHashJoin dim — runtime
      directory pruning, the property the entry itself re-asserts.
    """
    for name in ("er_record_linkage", "er_golden_record"):
        plan = formatted_plan(QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name

    plan = formatted_plan(QUERIES["text_ccnet_buckets"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan

    plan = formatted_plan(QUERIES["layout_dynamic_prune"](spark, SF))
    assert "dynamicpruning" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
