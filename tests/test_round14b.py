"""Round 14b: record linkage, survivorship, CCNet buckets, DPP."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators import linkage as L

SF = "/root/testdata/sf0.001"


def _records(spark, sf=SF):
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    return L.er_records(cust)


# ---------------------------------------------------------------------------
# er_records synthesis
# ---------------------------------------------------------------------------


def test_er_records_shape_and_determinism(spark):
    recs = _records(spark)
    n_clean = recs.filter(F.col("src") == "clean").count()
    n_dirty = recs.filter(F.col("src") == "dirty").count()
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert n_clean == n_cust
    # every DIRTY_MOD-th customer gets exactly one twin
    assert n_dirty == (n_cust + L.DIRTY_MOD - 1) // L.DIRTY_MOD
    # phones are 9 digits, cities from the pinned vocabulary
    bad = recs.filter(
        (F.length("phone") != 9) | (~F.col("city").isin(*L.CITIES))
    ).count()
    assert bad == 0
    # rerun is bit-identical (pure hash arithmetic, no randomness)
    a = sorted(map(tuple, recs.collect()))
    b = sorted(map(tuple, _records(spark).collect()))
    assert a == b


def test_er_corruption_edits_are_small(spark):
    """Each dirty twin differs from its clean source by exactly the
    planted edit model: phone lev 1, name lev 1, bal within 99 cents."""
    recs = _records(spark)
    clean = recs.filter(F.col("src") == "clean").alias("c")
    dirty = recs.filter(F.col("src") == "dirty").alias("d")
    j = clean.join(
        dirty,
        F.col("c.rec_id") == F.col("d.rec_id") - L.DIRTY_OFFSET,
    ).select(
        F.levenshtein("c.phone", "d.phone").alias("lp"),
        F.levenshtein("c.name", "d.name").alias("ln"),
        F.abs(F.col("c.bal_cents") - F.col("d.bal_cents")).alias("db"),
        (F.col("c.city") == F.col("d.city")).alias("same_city"),
    )
    rows = j.collect()
    assert rows
    assert all(r["lp"] == 1 for r in rows)
    assert all(r["ln"] == 1 for r in rows)
    assert all(r["db"] <= 99 for r in rows)
    # city swap hits roughly 1 in 5 (h2 div 81 % 5 == 0)
    swapped = sum(not r["same_city"] for r in rows)
    assert 0 < swapped < len(rows)


# ---------------------------------------------------------------------------
# linkage quality
# ---------------------------------------------------------------------------


def test_er_linkage_precision_and_recall(spark):
    recs = _records(spark)
    scored = L.er_score_pairs(L.er_candidates(recs)).collect()
    n_dirty = sum(1 for _ in range(0, 150, L.DIRTY_MOD))
    matches = [r for r in scored if r["cls"] == "match"]
    # zero false positives on the fixture: every 'match' is planted
    assert all(r["is_true"] == 1 for r in matches)
    # blocking recall: both passes miss only when the bumped digit is
    # in the prefix AND the city was swapped (~9% of planted pairs)
    assert len(matches) >= int(0.80 * n_dirty)
    # a true pair that became a candidate always classifies 'match'
    # (its floor score is 40 > MATCH_T even with the city swapped)
    true_cands = [r for r in scored if r["is_true"] == 1]
    assert all(r["cls"] == "match" for r in true_cands)
    assert all(r["score"] >= L.MATCH_T for r in true_cands)


def test_er_candidates_plan_has_no_cartesian(spark):
    """Both blocking passes must stay equi-joins — an OR-condition
    join would fall back to BroadcastNestedLoop and die at scale."""
    from whisper_pandas_spark.plans.inspect import formatted_plan

    recs = _records(spark)
    plan = formatted_plan(L.er_score_pairs(L.er_candidates(recs)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------------------------
# survivorship
# ---------------------------------------------------------------------------


def test_er_golden_records_rules(spark):
    recs = _records(spark)
    scored = L.er_score_pairs(L.er_candidates(recs))
    golden = {r["entity_id"]: r for r in
              L.er_golden_records(recs, scored).collect()}
    by_id = {r["rec_id"]: r for r in recs.collect()}
    n_match_dirty = (
        scored.filter(F.col("cls") == "match")
        .select("d_id").distinct().count()
    )
    # every record lands in exactly one entity
    assert sum(g["n_members"] for g in golden.values()) == len(by_id)
    # matched entities: golden name is the longest member name
    # (the clean one — the dirty twin lost a char), balance is the max
    for eid, g in golden.items():
        if g["n_members"] == 2:
            c, d = by_id[eid], by_id[eid + L.DIRTY_OFFSET]
            assert g["golden_name"] == c["name"]
            assert g["golden_bal_cents"] == max(
                c["bal_cents"], d["bal_cents"]
            )
    assert sum(1 for g in golden.values() if g["n_members"] == 2) == (
        n_match_dirty
    )


# ---------------------------------------------------------------------------
# CCNet buckets
# ---------------------------------------------------------------------------


def test_ccnet_buckets_partition_docs(spark):
    from whisper_pandas_spark.queries_text import text_ccnet_buckets

    out = text_ccnet_buckets(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    per_lang = {
        r["lang"]: r["n"]
        for r in docs.filter(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {}
    for r in out:
        got.setdefault(r["lang"], {})[r["bucket"]] = r["n_docs"]
    assert set(got) == set(per_lang)
    for lang, buckets in got.items():
        n = per_lang[lang]
        # buckets cover every doc exactly once
        assert sum(buckets.values()) == n
        # integer thirds: head = floor(n/3), head+middle = floor(2n/3)
        assert buckets.get("head", 0) == n // 3
        assert buckets.get("head", 0) + buckets.get("middle", 0) == (
            2 * n // 3
        )


def test_ccnet_single_doc_lang_goes_tail(spark):
    """n=1: rank 1, 3*1 > 2*1 -> 'tail' (no percent_rank 0/0 edge)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("xx", 1, 5, -3.0)], "lang string, doc_id int, n int, lp double"
    )
    w = Window.partitionBy("lang")
    r = df.select(
        F.row_number()
        .over(w.orderBy(F.col("lp").desc(), "doc_id"))
        .alias("r"),
        F.count(F.lit(1)).over(w).alias("n"),
    ).collect()[0]
    assert (
        3 * r["r"] > 2 * r["n"]
    )  # the entry's CASE sends this to 'tail'


# ---------------------------------------------------------------------------
# dynamic partition pruning
# ---------------------------------------------------------------------------


def test_dpp_entry_asserts_runtime_pruning(spark):
    from whisper_pandas_spark.queries_materialize import layout_dynamic_prune

    # normal config: entry runs and the fact scan is DPP-filtered
    out = layout_dynamic_prune(spark, SF)
    assert out.count() > 0
    days = [r["ts_date"] for r in out.select("ts_date").distinct().collect()]
    assert all(d.day % 7 == 3 for d in days)

    # with the optimization off, the entry must RAISE, not silently
    # full-scan — a layout regression turns the driver row red
    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    spark.conf.set(key, "false")
    try:
        with pytest.raises(RuntimeError, match="dynamic partition"):
            layout_dynamic_prune(spark, SF)
    finally:
        spark.conf.set(key, "true")


# ---------------------------------------------------------------------------
# streaming linkage
# ---------------------------------------------------------------------------


def test_stream_linkage_commutes_with_batching(spark, tmp_path):
    """The per-batch union over ANY partition of the dirty stream must
    equal the batch operator's pair set (the commutation law the
    replay entry leans on)."""
    recs = _records(spark).localCheckpoint(eager=True)
    batch = sorted(
        map(tuple, L.er_score_pairs(L.er_candidates(recs)).collect())
    )
    clean = recs.filter(F.col("src") == "clean")
    dirty = recs.filter(F.col("src") == "dirty")
    # an adversarial 3-way split by modulus (interleaved, not ranges)
    parts = [dirty.filter(F.col("rec_id") % 3 == i) for i in range(3)]
    union = []
    for p in parts:
        union.extend(
            map(
                tuple,
                L.er_score_pairs(
                    L.er_candidates(clean.unionByName(p))
                ).collect(),
            )
        )
    assert sorted(union) == batch


def test_stream_linkage_upsert_is_idempotent(spark, tmp_path):
    """Re-delivering the SAME dirty batch must leave the pairs state
    bit-unchanged (left_anti upsert)."""
    from whisper_pandas_spark.streaming.linkage import (
        linkage_read_off,
        stream_linkage,
    )

    recs = _records(spark).localCheckpoint(eager=True)
    clean = recs.filter(F.col("src") == "clean")
    dirty = recs.filter(F.col("src") == "dirty")
    d = str(tmp_path)
    dirty.coalesce(1).write.parquet(f"{d}/changes/f0")
    schema = (
        "rec_id long, src string, nation int, name string, phone string,"
        " city string, bal_cents bigint, seg string"
    )

    def run(ckpt):
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/changes/*")
        )
        q = stream_linkage(sdf, clean, f"{d}/state", checkpoint_dir=ckpt)
        q.processAllAvailable()
        q.stop()

    run(f"{d}/ck1")
    s1 = sorted(map(tuple, linkage_read_off(spark, f"{d}/state").collect()))
    run(f"{d}/ck2")  # fresh checkpoint: full re-delivery
    s2 = sorted(map(tuple, linkage_read_off(spark, f"{d}/state").collect()))
    assert s1 == s2 and s1


# ---------------------------------------------------------------------------
# null-aware anti join
# ---------------------------------------------------------------------------


def test_notin_null_semantics(spark):
    """One NULL in the subquery empties a NOT IN — the three-valued
    trap a plain LeftAnti would get wrong."""
    spark.createDataFrame([(1,), (2,)], "k long").createOrReplaceTempView(
        "naaj_l"
    )
    spark.createDataFrame(
        [(1,), (None,)], "k long"
    ).createOrReplaceTempView("naaj_r")
    out = spark.sql(
        "SELECT k FROM naaj_l WHERE k NOT IN (SELECT k FROM naaj_r)"
    ).collect()
    assert out == []


def test_notin_entry_matches_left_anti_on_nonnull_data(spark):
    """On the (non-null-key) fixture the NAAJ result must equal the
    plain anti-join reference — NAAJ changes the plan, not the answer
    here."""
    from whisper_pandas_spark.queries_joins import join_notin_nullaware

    out = {r["o_orderpriority"]: (r["n"], r["price_cents"])
           for r in join_notin_nullaware(spark, SF).collect()}
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet").filter(
        F.col("c_acctbal") > 5000.0
    )
    ref = {
        r["o_orderpriority"]: (r["n"], r["price_cents"])
        for r in orders.join(
            cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("price_cents"),
        )
        .collect()
    }
    assert out == ref


# ---------------------------------------------------------------------------
# multi-touch attribution
# ---------------------------------------------------------------------------


def test_attr_credit_conserves_exactly(spark):
    from whisper_pandas_spark.queries_windows import _ATTR_PPM, attr_multitouch_linear

    out = attr_multitouch_linear(spark, SF).collect()
    n_purchases = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    # exact conservation: every conversion's ppm sums to exactly 10^6
    assert sum(r["credit_ppm"] for r in out) == _ATTR_PPM * n_purchases
    assert sum(1 for r in out if r["touch_type"] == "(none)") <= 1


def test_attr_remainder_goes_to_earliest_touch(spark):
    """Hand-built: one purchase, three touches -> 333334/333333/333333
    with the extra ppm on the EARLIEST touch."""
    from pyspark.sql import Window

    rows = [
        (1, "2024-01-01 00:00:00", 7, "view"),
        (2, "2024-01-01 01:00:00", 7, "click"),
        (3, "2024-01-01 02:00:00", 7, "view"),
        (4, "2024-01-01 03:00:00", 7, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("t_id"), "user_id",
        F.col("ts").alias("t_ts"),
    )
    w = Window.partitionBy("p_id")
    got = {
        r["t_id"]: r["ppm"]
        for r in conv.join(touch, "user_id")
        .filter(F.col("t_ts") < F.col("p_ts"))
        .select(
            "t_id",
            F.row_number()
            .over(w.orderBy("t_ts", "t_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        .select(
            "t_id",
            (
                F.expr("1000000 div n")
                + F.when(F.col("rn") == 1, F.expr("1000000 % n"))
                .otherwise(F.lit(0))
            ).alias("ppm"),
        )
        .collect()
    }
    assert got == {1: 333334, 2: 333333, 3: 333333}


def test_attr_plan_is_equi_join(spark):
    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.queries_windows import attr_multitouch_linear

    plan = formatted_plan(attr_multitouch_linear(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# FD profiling
# ---------------------------------------------------------------------------


def test_fd_check_verdicts(spark):
    """nation->region must HOLD; the other two candidates must be
    violated on any TPC-H-shaped fixture."""
    from whisper_pandas_spark.queries_pipeline import profile_fd_check

    out = {r["fd"]: r for r in profile_fd_check(spark, SF).collect()}
    assert out["nation.n_nationkey->n_regionkey"]["holds"]
    assert out["nation.n_nationkey->n_regionkey"]["n_violating_keys"] == 0
    assert not out["lineitem.l_partkey->l_suppkey"]["holds"]
    assert out["lineitem.l_partkey->l_suppkey"]["max_distinct_rhs"] >= 2
    assert not out["orders.o_custkey->o_orderpriority"]["holds"]


# ---------------------------------------------------------------------------
# hierarchical reconciliation
# ---------------------------------------------------------------------------


def test_reconcile_conserves_exactly(spark):
    """Hamilton apportionment: sum(reconciled) == fc_total EXACTLY,
    and every nation is within 1 cent of its real-valued quota."""
    from whisper_pandas_spark.queries_timeseries import ts_reconcile_topdown

    rows = ts_reconcile_topdown(spark, SF).collect()
    fc = rows[0]["fc_total_cents"]
    assert all(r["fc_total_cents"] == fc for r in rows)
    assert sum(r["reconciled_cents"] for r in rows) == fc
    hist_total = sum(r["hist_cents"] for r in rows)
    for r in rows:
        exact = fc * r["hist_cents"] / hist_total
        assert abs(r["reconciled_cents"] - exact) < 1.0
        assert r["reconciled_cents"] in (
            r["floor_cents"],
            r["floor_cents"] + 1,
        )


# ---------------------------------------------------------------------------
# robots.txt evaluation
# ---------------------------------------------------------------------------


def test_robots_protocol_traps(spark):
    """Every planted RFC 9309 trap resolves correctly: specific-agent
    rules never leak into '*', Allow overrides the shorter Disallow,
    exact-length ties go to Allow, empty Disallow restricts nothing,
    Disallow-everything respects its carve-out."""
    from whisper_pandas_spark.queries_ingest import crawl_robots_filter

    out = crawl_robots_filter(spark, SF).collect()
    by_id = {r["id"]: r for r in out}
    docs_n = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == docs_n

    for r in out:
        k = r["id"] % 20
        fam = r["id"] % 5
        if k % 4 == 0:
            if fam == 0:  # /private/file -> blocked by D:/private/
                assert r["allowed"] == 0 and r["rule"] == "D:/private/"
            elif fam == 1:  # Allow /private/pub/ overrides (longer)
                assert r["allowed"] == 1 and r["rule"] == "A:/private/pub/"
            elif fam == 3:  # exact tie D:/blog/post vs A:/blog/post
                assert r["allowed"] == 1 and r["rule"] == "A:/blog/post"
            else:
                assert r["allowed"] == 1
        elif k % 4 == 1:
            if fam == 2:  # lowercase 'disallow: /tmp' still binds
                assert r["allowed"] == 0 and r["rule"] == "D:/tmp"
            else:
                assert r["allowed"] == 1
        elif k % 4 == 2:
            if fam == 3:  # Allow /blog carve-out beats D:/
                assert r["allowed"] == 1 and r["rule"] == "A:/blog"
            else:
                assert r["allowed"] == 0 and r["rule"] == "D:/"
        else:  # empty Disallow: everything allowed, no rule matched
            assert r["allowed"] == 1 and r["rule"] is None
        # specialbot's 'Disallow: /blog' must never be the matched rule
        assert r["rule"] != "D:/blog"


def test_robots_plan_is_broadcast_no_python(spark):
    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.queries_ingest import crawl_robots_filter

    plan = formatted_plan(crawl_robots_filter(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# sitemap delta
# ---------------------------------------------------------------------------


def test_sitemap_delta_roundtrip_and_classes(spark):
    """The re-parsed sitemap covers every URL exactly once, and the
    planted lastmod/crawl-date arithmetic exercises all three
    verdicts; 'new' is exactly the never-crawled third."""
    from whisper_pandas_spark.queries_ingest import crawl_sitemap_delta

    out = crawl_sitemap_delta(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert len(out) == len(ids)
    assert len({r["url"] for r in out}) == len(out)
    by_v = {}
    for r in out:
        by_v.setdefault(r["verdict"], []).append(r)
    assert set(by_v) == {"new", "changed", "fresh"}
    assert len(by_v["new"]) == sum(1 for i in ids if i % 3 == 0)
    for r in by_v["changed"]:
        assert r["lastmod"] > r["last_crawl"]
    for r in by_v["fresh"]:
        assert r["lastmod"] <= r["last_crawl"]


def test_sitemap_plan_no_python_no_cartesian(spark):
    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.queries_ingest import crawl_sitemap_delta

    plan = formatted_plan(crawl_sitemap_delta(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


# ---------------------------------------------------------------------------
# matryoshka prefix retrieval
# ---------------------------------------------------------------------------


def test_matryoshka_shape_and_flag(spark):
    from whisper_pandas_spark.queries_similarity import _MRL_K, emb_matryoshka_topk

    out = emb_matryoshka_topk(spark, SF).collect()
    assert len(out) == 5 * _MRL_K
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rnk"] for r in sorted(rows, key=lambda r: r["rnk"])] == (
            list(range(1, _MRL_K + 1))
        )
        # prefix scores are monotone over rank (the ranking's own key)
        ordered = sorted(rows, key=lambda r: r["rnk"])
        assert all(
            ordered[i]["cos_sim"] >= ordered[i + 1]["cos_sim"]
            for i in range(len(ordered) - 1)
        )
        # at least one flag set and recall reported honestly (random
        # fixture: the prefix finds SOME of the full top-k, not all)
        flags = sum(r["in_full"] for r in rows)
        assert 0 <= flags <= _MRL_K


# ---------------------------------------------------------------------------
# streaming attribution
# ---------------------------------------------------------------------------


def test_stream_attr_commutes_with_batching(spark):
    """Crediting a partition of the conversions batch-by-batch must
    union to the batch operator's credited rows (adversarial
    interleaved 3-way split)."""
    from whisper_pandas_spark.streaming.attribution import _credit_batch

    ev = spark.read.parquet(f"{SF}/events.parquet")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )
    touch = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    whole = sorted(map(tuple, _credit_batch(conv, touch, 3, 10**6).collect()))
    parts = []
    for i in range(3):
        parts.extend(
            map(
                tuple,
                _credit_batch(
                    conv.filter(F.col("p_id") % 3 == i), touch, 3, 10**6
                ).collect(),
            )
        )
    assert sorted(parts) == whole and whole


# ---------------------------------------------------------------------------
# SFT masking
# ---------------------------------------------------------------------------


def test_sft_spans_identity_and_coverage(spark):
    """Every span's substring equals its assistant content (span_ok
    pinned 1), spans never overlap, and the mask never touches a
    template marker."""
    from whisper_pandas_spark.queries_text import text_sft_masking

    out = text_sft_masking(spark, SF).collect()
    docs_n = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .count()
    )
    assert len(out) == 2 * docs_n
    assert all(r["span_ok"] == 1 for r in out)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rows in by_doc.items():
        t1, t2 = sorted(rows, key=lambda r: r["turn"])
        assert t1["mask_end"] <= t2["mask_start"]  # disjoint, ordered
        assert t2["mask_end"] < t2["total_chars"]  # trailing im_end
        assert t1["total_chars"] == t2["total_chars"]
        assert t1["rendered_md5"] == t2["rendered_md5"]


# ---------------------------------------------------------------------------
# packed SFT spans
# ---------------------------------------------------------------------------


def test_pack_sft_conservation_and_y180_consistency(spark):
    """Fragment lengths per (doc, turn) sum to the Y180 span length;
    fragments stay inside [0, B); and every span offset agrees with
    text_sft_masking's length arithmetic modulo the doc's stream
    start."""
    from whisper_pandas_spark.queries_text import (
        _PSFT_B,
        pack_sft_spans,
        text_sft_masking,
    )

    frags = pack_sft_spans(spark, SF).collect()
    spans = {
        (r["doc_id"], r["turn"]): r["mask_end"] - r["mask_start"]
        for r in text_sft_masking(spark, SF).collect()
    }
    got = {}
    for r in frags:
        assert 0 <= r["frag_start"] < r["frag_end"] <= _PSFT_B
        got[(r["doc_id"], r["turn"])] = got.get(
            (r["doc_id"], r["turn"]), 0
        ) + (r["frag_end"] - r["frag_start"])
    for key, ln in got.items():
        assert ln == spans[key], key
    # every nonempty Y180 span appears
    nonempty = {k for k, v in spans.items() if v > 0}
    assert set(got) == nonempty


# ---------------------------------------------------------------------------
# A/B experiment report
# ---------------------------------------------------------------------------


def test_ab_report_invariants(spark):
    """Assignment partitions the users exactly; the scaled chi-square
    matches the Python integer identity; a healthy 50/50 md5 split
    never trips the SRM guardrail on the fixture."""
    from whisper_pandas_spark.queries_windows import _AB_SCALE, ab_experiment_report

    rows = {r["variant"]: r for r in ab_experiment_report(spark, SF).collect()}
    assert set(rows) == {"control", "treatment"}
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    nc = rows["control"]["n_users"]
    assert nc + rows["treatment"]["n_users"] == n_users
    chi2 = (2 * nc - n_users) ** 2 * _AB_SCALE // n_users
    for r in rows.values():
        assert r["srm_chi2_x1e6"] == chi2
        assert r["conv_ppm"] == (
            r["n_converted"] * _AB_SCALE // r["n_users"]
        )
        assert 0 <= r["conv_ppm"] <= _AB_SCALE
    assert rows["control"]["srm_flag"] == 0  # healthy md5 split


# ---------------------------------------------------------------------------
# politeness schedule
# ---------------------------------------------------------------------------


def test_politeness_delays_and_slots(spark):
    """The specialbot poison delay (99 s) never binds; declared-delay
    domains use k%7+1, the rest the default; slots are dense per
    domain and fetch_at_s = slot * delay_s exactly."""
    from whisper_pandas_spark.queries_ingest import (
        _POL_DEFAULT_S,
        crawl_politeness_schedule,
    )

    out = crawl_politeness_schedule(spark, SF).collect()
    assert out
    by_dom = {}
    for r in out:
        k = int(r["domain"].replace("site", "").split(".")[0])
        expected = (k % 7 + 1) if k % 3 == 0 else _POL_DEFAULT_S
        assert r["delay_s"] == expected, (r["domain"], r["delay_s"])
        assert r["delay_s"] != 99
        assert r["fetch_at_s"] == r["slot"] * r["delay_s"]
        by_dom.setdefault(r["domain"], []).append(r["slot"])
    for dom, slots in by_dom.items():
        assert sorted(slots) == list(range(len(slots)))  # dense slots


# ---------------------------------------------------------------------------
# deletion vectors
# ---------------------------------------------------------------------------


def test_dv_no_rewrite_and_exact_survivors(spark, tmp_path):
    """Deletes never touch base bytes; the read path removes exactly
    the recorded positions; re-recording a wave is idempotent."""
    from whisper_pandas_spark.operators.deletevec import (
        add_deletes,
        base_file_state,
        read_with_dv,
        write_base,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "dvtab")
    write_base(docs, "doc_id", d, 3)
    st0 = base_file_state(d)
    data = spark.read.parquet(f"{d}/data")
    n_all = data.count()
    wave = data.filter(F.col("doc_id") % 5 == 0).select("file_id", "pos")
    n_del = wave.count()
    add_deletes(spark, d, wave, 0)
    assert base_file_state(d) == st0  # no rewrite
    survivors = read_with_dv(spark, d)
    assert survivors.count() == n_all - n_del
    assert survivors.filter(F.col("doc_id") % 5 == 0).count() == 0
    # idempotent re-record
    add_deletes(spark, d, wave, 0)
    assert read_with_dv(spark, d).count() == n_all - n_del


def test_dv_compaction_lifecycle(spark, tmp_path):
    """Compaction folds DVs in: survivors unchanged, only
    delete-carrying files rewritten, DV state cleared, second
    compaction a no-op."""
    from whisper_pandas_spark.operators.deletevec import (
        add_deletes,
        base_file_state,
        compact_dv,
        read_with_dv,
        write_base,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = str(tmp_path / "dvc")
    write_base(docs, "doc_id", d, 4)
    data = spark.read.parquet(f"{d}/data")
    wave = data.filter(
        (F.col("doc_id") % 9 == 1) & (F.col("doc_id") % 4 == 0)
    ).select("file_id", "pos")
    add_deletes(spark, d, wave, 0)
    survivors_before = sorted(
        r["doc_id"] for r in read_with_dv(spark, d).select("doc_id").collect()
    )
    st_before = base_file_state(d)
    counts = compact_dv(spark, d)
    assert counts == {"rewritten": 1, "untouched": 3}
    st_after = base_file_state(d)
    for f, sz in st_after.items():
        if not f.startswith("file_id=0/"):
            assert st_before.get(f) == sz, f
    survivors_after = sorted(
        r["doc_id"] for r in read_with_dv(spark, d).select("doc_id").collect()
    )
    assert survivors_after == survivors_before
    assert compact_dv(spark, d) == {"rewritten": 0, "untouched": 4}
