"""Pipeline-engineering operators: deterministic sampling/splits and
skew mitigation. Properties that matter at 100 TB: decisions are pure
functions of the key (stable under repartition/append), and salting is
semantically invisible."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.sampling import (
    BUCKET_SPACE,
    duck_hash_bucket,
    hash_bucket,
    hash_sample,
    split_assign,
)
from whisper_pandas_spark.operators.skew import salted_agg_count_sum, salted_join

SF = "/root/testdata/sf0.001"


def test_hash_sample_stable_under_partitioning(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.3).collect()}
    b = {
        r["doc_id"]
        for r in hash_sample(docs.repartition(13, "lang"), "doc_id", 0.3).collect()
    }
    assert a == b and 0 < len(a) < docs.count()
    # growing the fraction only ADDS rows — monotone thresholds mean
    # yesterday's sample is always a subset of today's bigger one
    c = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.6).collect()}
    assert a < c


def test_split_assign_consistent_and_total(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = split_assign(docs, "doc_id", 0.2, 0.1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) <= {"train", "val", "test"}
    # same key -> same split on a re-read (pure function of the key)
    again = split_assign(spark.read.parquet(f"{SF}/documents.parquet"), "doc_id", 0.2, 0.1)
    merged = out.select("doc_id", F.col("split").alias("s1")).join(
        again.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    assert merged.filter(F.col("s1") != F.col("s2")).count() == 0


def test_null_key_hash_bucket_matches_duckdb(spark):
    """A NULL key has no bucket on either engine: ``hash_sample`` drops
    the row, as the DuckDB filter does, and ``split_assign`` puts it in
    ``train`` (the CASE's ELSE)."""
    import duckdb

    rows = [(1, "doc-1"), (2, "naïve"), (3, None)]
    df = spark.createDataFrame(rows, "id long, k string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, k VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    b = duck_hash_bucket("k")

    got = {r["id"]: r["b"] for r in df.select("id", hash_bucket(F.col("k")).alias("b")).collect()}
    want = dict(con.execute(f"SELECT id, {b} FROM t").fetchall())
    assert got == want and want[3] is None

    full = int(1.0 * BUCKET_SPACE)
    got = {r["id"] for r in hash_sample(df, "k", 1.0).collect()}
    want = {i for (i,) in con.execute(f"SELECT id FROM t WHERE {b} < {full}").fetchall()}
    assert got == want == {1, 2}

    t, v = int(0.5 * BUCKET_SPACE), full
    got = {r["id"]: r["split"] for r in split_assign(df, "k", 0.5, 0.5).collect()}
    want = dict(con.execute(
        f"SELECT id, CASE WHEN {b} < {t} THEN 'test' WHEN {b} < {v} THEN 'val'"
        " ELSE 'train' END FROM t"
    ).fetchall())
    assert got == want and want[3] == "train"


def test_salted_join_equals_plain_join_with_planted_skew(spark):
    # one hot key (90% of rows) — the scenario salting exists for
    big = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], ["k", "payload"]
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "never")], ["k", "tag"])
    plain = big.join(small, "k").groupBy("k", "tag").count()
    salted = salted_join(big, small, "k", salt_factor=4).groupBy("k", "tag").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join keeps unmatched big rows exactly once
    big2 = big.union(spark.createDataFrame([(99, -1)], ["k", "payload"]))
    left = salted_join(big2, small, "k", salt_factor=4, how="left")
    assert left.filter(F.col("k") == 99).count() == 1


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1, 1)], ["k", "v"])
    with pytest.raises(ValueError, match="salted_join"):
        salted_join(df, df, "k", how="full")


def test_salted_join_complex_type_columns(spark):
    """Salt must not be derived from row content: array/map columns on the
    big side used to fail analysis under a concat_ws-based salt."""
    big = spark.createDataFrame(
        [(1, [1, 2]), (1, [3]), (2, [])], ["k", "arr"]
    )
    small = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "tag"])
    got = salted_join(big, small, "k", salt_factor=4)
    assert got.count() == 3


def test_salted_helpers_reject_reserved_column(spark):
    df = spark.createDataFrame([(1, 1)], ["k", "__wps_salt"])
    with pytest.raises(ValueError, match="__wps_salt"):
        salted_join(df, df.drop("__wps_salt"), "k")
    with pytest.raises(ValueError, match="__wps_salt"):
        salted_agg_count_sum(df, "k", "k")


def test_asof_bucketed_matches_sequential(spark):
    """The skew-immune (key, time-bucket) plan must be row-identical to
    the one-window plan, including: empty buckets between right rows
    (boundary carry), left rows before any right row (inner drop), and
    the inclusive equal-timestamp match."""
    import random

    from whisper_pandas_spark.operators.asof import asof_join

    rng = random.Random(13)
    lefts = [
        (f"k{i % 3}", rng.randrange(0, 100_000), i) for i in range(400)
    ]
    # sparse right side: long gaps => many buckets with no right rows
    rights = [
        (f"k{i % 3}", rng.randrange(0, 100_000) // 1000 * 1000, float(i))
        for i in range(40)
    ]
    rights.append(("k0", lefts[0][1], 999.0))  # exact-tie with a left ts
    left = spark.createDataFrame(lefts, ["k", "ts", "payload"])
    right = spark.createDataFrame(rights, ["k", "ts", "value"])

    def run(**kw):
        return sorted(
            map(
                tuple,
                asof_join(
                    left, right, on="k", value_cols=("value",), **kw
                ).collect(),
            )
        )

    seq = run()
    for bucket in (500, 7_919, 1_000_000):  # incl. one bucket >> ts span
        assert run(time_bucket_seconds=bucket) == seq, bucket
    # outer flavor keeps unmatched left rows on both plans
    seq_outer = run(inner=False)
    assert run(inner=False, time_bucket_seconds=500) == seq_outer
    assert len(seq_outer) == len(lefts)


def test_asof_subsecond_nearest_and_tolerance(spark):
    """ADVICE r5: nearest distances and tolerance gaps must compare at
    FULL timestamp precision — whole-second truncation picks the farther
    row (10.9 vs 11.4 around a left at 11.2) and accepts matches a
    fractional tolerance should reject."""
    from whisper_pandas_spark.operators.asof import asof_join

    def ts_df(rows, cols):
        df = spark.createDataFrame(rows, cols)
        return df.withColumn("ts", F.timestamp_micros(F.col("ts")))

    us = 1_000_000
    left = ts_df([("a", int(11.2 * us), 1)], ["k", "ts", "id"])
    right = ts_df(
        [("a", int(10.9 * us), 1.0), ("a", int(11.4 * us), 2.0)],
        ["k", "ts", "value"],
    )
    # truncated epochs: left 11, backward 10, forward 11 -> dtb=1 > dtf=0
    # would pick forward; true distances 0.3 vs 0.2 also pick forward;
    # now flip the geometry so truncation and truth DISAGREE:
    left2 = ts_df([("a", int(11.8 * us), 1)], ["k", "ts", "id"])
    right2 = ts_df(
        [("a", int(11.7 * us), 1.0), ("a", int(12.6 * us), 2.0)],
        ["k", "ts", "value"],
    )
    # truncated: left 11, back 11 (dtb=0), fwd 12 (dtf=1) -> backward;
    # true: 0.1 vs 0.8 -> backward too. Use a case where truncation picks
    # the FARTHER row: left 11.2, back at 10.9 (true 0.3), fwd 11.4
    # (true 0.2): truncated dtb = 11-10 = 1, dtf = 11-11 = 0 -> forward
    # (correct by luck); invert: left 11.9, back 11.1 (true 0.8), fwd
    # 12.0 (true 0.1): truncated dtb = 0, dtf = 1 -> would pick BACKWARD.
    left3 = ts_df([("a", int(11.9 * us), 1)], ["k", "ts", "id"])
    right3 = ts_df(
        [("a", int(11.1 * us), 1.0), ("a", int(12.0 * us), 2.0)],
        ["k", "ts", "value"],
    )
    got = asof_join(
        left3, right3, on="k", value_cols=("value",), direction="nearest"
    ).collect()
    assert [r["value_asof"] for r in got] == [2.0]  # true nearest, 0.1s away

    # fractional tolerance: gap is 0.3s; tolerance 0.25s must reject
    # (second-truncated gap would be 0 and wrongly accept)
    got_tol = asof_join(
        left, right, on="k", value_cols=("value",),
        direction="backward", tolerance_seconds=0.25, inner=False,
    ).collect()
    assert [r["value_asof"] for r in got_tol] == [None]
    got_tol_ok = asof_join(
        left, right, on="k", value_cols=("value",),
        direction="backward", tolerance_seconds=0.35,
    ).collect()
    assert [r["value_asof"] for r in got_tol_ok] == [1.0]


def test_asof_strict_exact_matches_excluded(spark):
    """allow_exact_matches=False (pd.merge_asof parity): equal-ts right
    rows are invisible in every direction, including the bucketed plan."""
    from whisper_pandas_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 100, 1), ("a", 200, 2)], ["k", "ts", "id"]
    )
    right = spark.createDataFrame(
        [("a", 50, 1.0), ("a", 100, 2.0), ("a", 200, 3.0), ("a", 250, 4.0)],
        ["k", "ts", "value"],
    )

    def vals(**kw):
        rows = asof_join(
            left, right, on="k", value_cols=("value",), inner=False, **kw
        ).collect()
        return {r["id"]: r["value_asof"] for r in rows}

    # backward strict: ts=100 -> 50's value, not the equal-ts row
    assert vals(allow_exact_matches=False) == {1: 1.0, 2: 2.0}
    assert vals() == {1: 2.0, 2: 3.0}  # default includes exact
    # forward strict: ts=100 -> 200, ts=200 -> 250
    assert vals(direction="forward", allow_exact_matches=False) == {
        1: 3.0, 2: 4.0,
    }
    # nearest strict at ts=200: backward 100 (d=100) vs forward 250
    # (d=50) -> forward
    assert vals(direction="nearest", allow_exact_matches=False)[2] == 4.0
    # bucketed strict plan row-identical to the sequential one
    assert vals(allow_exact_matches=False, time_bucket_seconds=60) == {
        1: 1.0, 2: 2.0,
    }


def test_asof_bucketed_timestamp_column(spark):
    """Bucketing works on TIMESTAMP ts columns (unix_timestamp path)."""
    from whisper_pandas_spark.operators.asof import asof_join

    mk = lambda rows, cols: spark.createDataFrame(rows, cols).withColumn(
        "ts", F.timestamp_seconds("ts")
    )
    left = mk([("a", 100, 1), ("a", 2_000, 2), ("b", 50, 3)], ["k", "ts", "id"])
    right = mk([("a", 90, 7.0), ("a", 150, 8.0)], ["k", "ts", "value"])
    got = asof_join(
        left, right, on="k", value_cols=("value",), time_bucket_seconds=60
    )
    assert {(r["id"], r["value_asof"]) for r in got.collect()} == {
        (1, 7.0),
        (2, 8.0),
    }


def test_connected_components_chain_and_clique(spark):
    """Transitive chains collapse to one component labeled by the min id;
    disjoint clusters stay separate; convergence beats max_iters on a
    long path (the worst-case diameter)."""
    from whisper_pandas_spark.operators.components import connected_components

    # chain 1-2-3-4-5, clique {10,11,12}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (11, 12), (20, 21)],
        ["doc_i", "doc_j"],
    )
    got = {
        (r["node"], r["comp"])
        for r in connected_components(pairs).collect()
    }
    want = (
        {(n, 1) for n in (1, 2, 3, 4, 5)}
        | {(n, 10) for n in (10, 11, 12)}
        | {(n, 20) for n in (20, 21)}
    )
    assert got == want


def test_canonical_filter_keeps_min_and_untouched(spark):
    from whisper_pandas_spark.operators.components import canonical_filter

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 7, 8)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_i", "doc_j"])
    kept = {r["doc_id"] for r in canonical_filter(docs, pairs).collect()}
    assert kept == {1, 7, 8}  # cluster {1,2,3} -> 1; 7, 8 untouched


def test_ngram_contamination_flags_shared_shingles(spark):
    from whisper_pandas_spark.operators.decontam import ngram_contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here entirely now friend"),
        ],
        ["doc_id", "text"],
    )
    heldout = spark.createDataFrame(
        [(99, "a sentence with the quick brown fox inside")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["n_shared"] for r in ngram_contamination(train, heldout).collect()}
    # shared 3-grams: "the quick brown", "quick brown fox" -> doc 1 only
    assert got == {1: 2}


def test_per_group_quota_plan_uses_window_group_limit(spark):
    """The rank-filter must compile to WindowGroupLimit (map-side per-
    partition top-k) — the property that makes the quota skew-immune."""
    from whisper_pandas_spark.operators.sampling import per_group_quota

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = per_group_quota(docs, "source", "doc_id", 5)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts and all(v <= 5 for v in counts.values())


def test_salted_agg_matches_direct(spark):
    from whisper_pandas_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF)  # TIMESTAMP_NANOS-safe read
    direct = {
        (r["event_type"], r["n"], r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("s"))
        .collect()
    }
    salted = {
        (r["event_type"], r["n_rows"], r["sum_value"])
        for r in salted_agg_count_sum(ev, "event_type", "user_id", 8).collect()
    }
    assert direct == salted


def test_pack_bins_contiguous_overflow_semantics(spark):
    # budget 10, single block/shard, docs in id order with token counts
    # 4,4,4,4: cum-before = 0,4,8,12 -> bins 0,0,0,1 (third doc STARTS
    # inside bin 0 and overflows it; the bin where a doc starts wins)
    from whisper_pandas_spark.operators.packing import pack_bins

    df = spark.createDataFrame(
        [(i, "en", 4) for i in range(4)], ["doc_id", "lang", "nt"]
    )
    out = pack_bins(df, "doc_id", F.col("nt"), "lang", 10, n_shards=1)
    bins = {r["doc_id"]: r["bin_id"] for r in out.collect()}
    assert bins == {0: 0, 1: 0, 2: 0, 3: 1}
    # partitioning must not change assignments
    out2 = pack_bins(
        df.repartition(7), "doc_id", F.col("nt"), "lang", 10, n_shards=1
    )
    assert {r["doc_id"]: r["bin_id"] for r in out2.collect()} == bins


def test_pii_redact_counts_and_replacement_order(spark):
    """pii_redact: counts on the original text; email -> ipv4 -> phone
    replacement order; non-PII text untouched."""
    from whisper_pandas_spark.operators.redact import pii_redact

    rows = [
        (0, "mail a.user+tag@sub.example.org and b@x.io, done"),
        (1, "ips 10.0.0.1 and 192.168.255.3; ver 1.2 stays"),
        (2, "call +44 123 4567 or +1-555-0100 now"),
        (3, "plain text with no identifiers at all"),
        (4, "mix u@h.co at 8.8.8.8 dial +1 555 0100"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_redact(df, "doc_id").collect()}
    assert (got[0]["n_emails"], got[0]["n_ipv4"], got[0]["n_phones"]) == (2, 0, 0)
    assert got[0]["clean_text"] == "mail <EMAIL> and <EMAIL>, done"
    assert (got[1]["n_emails"], got[1]["n_ipv4"]) == (0, 2)
    assert got[1]["clean_text"] == "ips <IP> and <IP>; ver 1.2 stays"
    # +44 123 4567 matches (3-digit then 4-digit groups); +1-555-0100 too
    assert got[2]["n_phones"] == 2
    assert got[2]["clean_text"] == "call <PHONE> or <PHONE> now"
    assert got[3]["clean_text"] == rows[3][1]
    assert (got[3]["n_emails"], got[3]["n_ipv4"], got[3]["n_phones"]) == (0, 0, 0)
    assert got[4]["clean_text"] == "mix <EMAIL> at <IP> dial <PHONE>"


def test_deterministic_shuffle_stable_across_partitioning(spark):
    """Same permutation at any input partitioning; different seed gives a
    different (still reproducible) permutation."""
    from whisper_pandas_spark.operators.sampling import deterministic_shuffle

    df1 = spark.range(200).withColumnRenamed("id", "k")
    df2 = df1.repartition(7)
    o1 = [r["k"] for r in deterministic_shuffle(df1, "k", seed=1).collect()]
    o2 = [r["k"] for r in deterministic_shuffle(df2, "k", seed=1).collect()]
    o3 = [r["k"] for r in deterministic_shuffle(df1, "k", seed=2).collect()]
    assert o1 == o2
    assert sorted(o1) == list(range(200))
    assert o1 != o3 and sorted(o3) == list(range(200))
    assert o1 != list(range(200))  # actually shuffled


def test_table_diff_classes_and_schema_drift(spark):
    from whisper_pandas_spark.operators.diffing import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c", 30), (4, "D", 40), (5, "e", 50)],
        "k long, s string, v int",
    )
    got = {r["key"]: r["change"] for r in table_diff(old, new, "k").collect()}
    # 1 removed, 2 unchanged (absent), 3 changed (NULL -> 30),
    # 4 changed (d -> D), 5 added
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}

    drifted = new.withColumnRenamed("v", "w")
    import pytest as _pt

    with _pt.raises(ValueError, match="schema drift"):
        table_diff(old, drifted, "k")
    # explicit shared subset still works under drift
    got2 = {
        r["key"]: r["change"]
        for r in table_diff(old, drifted, "k", value_cols=["s"]).collect()
    }
    assert got2 == {1: "removed", 4: "changed", 5: "added"}


def test_table_diff_null_vs_empty_string_distinct(spark):
    from whisper_pandas_spark.operators.diffing import table_diff

    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "")], "k long, s string")
    got = [(r["key"], r["change"]) for r in table_diff(old, new, "k").collect()]
    assert got == [(1, "changed")]


def test_bigram_lm_score_matches_python_reference(spark):
    """bigram_lm_score vs an independent add-one bigram LM in plain
    Python (own tokenizer, own counts) on a small corpus."""
    import math
    import re
    from collections import Counter

    from whisper_pandas_spark.operators.lm import bigram_lm_score

    texts = {
        0: "the cat sat on the mat",
        1: "the cat sat",
        2: "dogs chase the cat",
        3: "zzz",              # single token -> no bigrams
        4: "the cat sat on the mat again and again",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_lm_score(df).collect()}

    def toks(s):
        return [t for t in re.sub(r"[^a-z0-9]+", " ", s.lower()).strip().split(" ")]

    bigrams = lambda ts: list(zip(ts, ts[1:]))
    allbi = Counter(b for s in texts.values() for b in bigrams(toks(s)))
    c1 = Counter(b[0] for s in texts.values() for b in bigrams(toks(s)))
    vocab = len({w for s in texts.values() for w in toks(s)})
    for i, s in texts.items():
        bs = bigrams(toks(s))
        assert got[i]["n_bigrams"] == len(bs)
        if not bs:
            assert got[i]["lm_score"] is None
            continue
        want = sum(
            math.log((allbi[b] + 1) / (c1[b[0]] + vocab)) for b in bs
        ) / len(bs)
        assert got[i]["lm_score"] == pytest.approx(want, abs=1e-6)
    # docs repeating corpus-typical bigrams score higher than outliers
    assert got[0]["lm_score"] > got[2]["lm_score"]


def test_scd2_from_log_compresses_runs(spark):
    from whisper_pandas_spark.operators.scd import scd2_from_log

    rows = [
        (1, 10, "bronze"), (1, 20, "bronze"), (1, 30, "silver"),
        (1, 40, "silver"), (1, 50, "bronze"),   # flip back -> new version
        (2, 15, "gold"),
        (3, 5, None), (3, 9, "trial"),          # null attr -> real change
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, tier string")
    got = sorted(
        (
            (r["key"], r["tier"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in scd2_from_log(df, "user_id", "ts", ["tier"]).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert got == [
        (1, "bronze", 10, 30, False),
        (1, "silver", 30, 50, False),
        (1, "bronze", 50, None, True),
        (2, "gold", 15, None, True),
        (3, None, 5, 9, False),
        (3, "trial", 9, None, True),
    ]
    # idempotent: replaying the compressed versions yields themselves
    versions = scd2_from_log(df, "user_id", "ts", ["tier"]).select(
        F.col("key").alias("user_id"), F.col("valid_from").alias("ts"), "tier"
    )
    again = scd2_from_log(versions, "user_id", "ts", ["tier"])
    assert again.count() == 6
    with pytest.raises(ValueError):
        scd2_from_log(df, "user_id", "ts", [])


# -- mixture_sample / mixture_quotas ---------------------------------------


def _naive_mixture(spark, df, quotas):
    """Single-window greedy reference (the oracle's shape)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("dom")
        .orderBy(hash_bucket(F.col("k")), "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    q = F.lit(None).cast("long")
    for d, v in quotas.items():
        q = F.when(F.col("dom") == d, F.lit(v)).otherwise(q)
    return (
        df.filter(F.col("dom").isin(*quotas))
        .withColumn("__b4", F.coalesce(F.sum("wt").over(w), F.lit(0)))
        .filter(F.col("__b4") < q)
        .drop("__b4")
    )


@pytest.mark.parametrize("bits", [0, 1, 3, 12])
def test_mixture_sample_equals_naive_greedy(spark, bits):
    from whisper_pandas_spark.operators.sampling import mixture_sample

    rows = [(i, f"d{i % 3}", 10 + (i * 7) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, dom string, wt long")
    quotas = {"d0": 700, "d1": 150, "d2": 100000}  # mid / tiny / no-cap
    got = mixture_sample(
        df, "dom", quotas, weight_col="wt", key_col="k", coarse_bits=bits
    )
    want = _naive_mixture(spark, df, quotas)
    assert sorted(got.select("k").toPandas()["k"]) == sorted(
        want.select("k").toPandas()["k"]
    )
    # the uncapped domain keeps everything; each capped one overshoots
    # its quota by at most one row
    pdf = got.toPandas()
    assert (pdf["dom"] == "d2").sum() == (df.toPandas()["dom"] == "d2").sum()
    for d, q in (("d0", 700), ("d1", 150)):
        sel = pdf[pdf["dom"] == d].sort_values("k")
        tot = sel["wt"].sum()
        assert tot >= min(q, 1)  # picked something
        assert tot - sel["wt"].max() < q  # before-last < quota


def test_mixture_sample_drops_unlisted_and_zero_quota(spark):
    from whisper_pandas_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5), (3, "c", 5)], "k long, dom string, wt long"
    )
    out = mixture_sample(
        df, "dom", {"a": 100, "b": 0}, weight_col="wt", key_col="k"
    ).toPandas()
    assert sorted(out["dom"]) == ["a"]  # c unlisted, b zero-quota
    with pytest.raises(ValueError):
        mixture_sample(df, "dom", {}, weight_col="wt", key_col="k")


def test_mixture_quotas_largest_remainder():
    from whisper_pandas_spark.operators.sampling import mixture_quotas

    q = mixture_quotas({"web": 0.5, "code": 0.3, "books": 0.2}, 1001)
    assert sum(q.values()) == 1001
    assert q == {"web": 501, "code": 300, "books": 200}
    # ties break by name: both .5 remainders, 'a' wins the odd token
    assert mixture_quotas({"a": 1, "b": 1}, 3) == {"a": 2, "b": 1}
    with pytest.raises(ValueError):
        mixture_quotas({"a": 0.0}, 10)
    with pytest.raises(ValueError):
        mixture_quotas({"a": -1.0, "b": 2.0}, 10)


def test_mixture_sample_zero_weight_rows_at_exact_quota(spark):
    """A bucket that exactly fills the quota must route through the
    exact window: trailing zero-weight rows have prefix == quota and
    are dropped by the naive greedy — the two-phase path must agree."""
    from whisper_pandas_spark.operators.sampling import mixture_sample

    rows = [(i, "d", 50) for i in range(8)] + [(100 + i, "d", 0) for i in range(4)]
    df = spark.createDataFrame(rows, "k long, dom string, wt long")
    for bits in (0, 2, 12):
        got = mixture_sample(
            df, "dom", {"d": 400}, weight_col="wt", key_col="k",
            coarse_bits=bits,
        )
        want = _naive_mixture(spark, df, {"d": 400})
        assert sorted(got.toPandas()["k"]) == sorted(
            want.toPandas()["k"]
        ), bits


def test_tfidf_top_terms_semantics(spark):
    import math

    from whisper_pandas_spark.operators.textrank import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "banana cherry shared"),
            (2, "cherry cherry cherry shared"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=2, min_df=1).toPandas()
    by_doc = {d: g.sort_values("rnk") for d, g in out.groupby("doc_id")}
    # doc 0: apple tf=2 df=1 beats banana tf=1 df=2 and shared (df=3, idf=0)
    assert list(by_doc[0]["term"]) == ["apple", "banana"]
    r = by_doc[0].iloc[0]
    assert r["tf"] == 2 and r["df"] == 1
    assert abs(r["score"] - round(2 * math.log(4 / 2), 6)) < 1e-9
    # 'shared' has df = N -> idf = ln(4/4) = 0: it can only fill leftover
    # slots (doc 2 has just two distinct terms) and never outranks a
    # positive-score term
    assert "shared" not in set(by_doc[0]["term"])
    d2 = list(by_doc[2].itertuples())
    assert [t.term for t in d2] == ["cherry", "shared"]
    assert d2[1].score == 0.0
    # min_df drops hapax terms entirely
    out2 = tfidf_top_terms(docs, "doc_id", "text", k=2, min_df=2).toPandas()
    assert "apple" not in set(out2["term"])
    import pytest as _pt

    with _pt.raises(ValueError):
        tfidf_top_terms(docs, "doc_id", "text", k=0)


def test_metric_correlation_planted(spark):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.decompose import metric_correlation

    rows = []
    for i in range(10):
        rows.append(("up", i, float(i)))
        rows.append(("up2", i, 3.0 + 2.0 * i))      # perfectly correlated
        rows.append(("down", i, float(-i)))          # perfectly anti
        if i < 2:
            rows.append(("sparse", i, float(i % 2)))
    df = spark.createDataFrame(rows, "metric string, t long, value double")
    out = {
        (r["metric_a"], r["metric_b"]): (r["n_points"], r["corr"])
        for r in metric_correlation(df, "metric", "t", "value", min_points=3).collect()
    }
    assert out[("up", "up2")] == (10, 1.0)
    assert out[("down", "up")] == (10, -1.0)
    # sparse only overlaps 2 points: filtered by min_points=3
    assert not any("sparse" in k for k in out)


def test_weighted_sample_k_properties(spark):
    from collections import Counter

    from whisper_pandas_spark.operators.sampling import weighted_sample_k

    rows = [(i, 100.0 if i == 0 else 1.0) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, w double")
    # heavy row (100x weight) wins a top-1 draw for most seeds
    wins = Counter(
        weighted_sample_k(df, "k", "w", k=1, seed=s).collect()[0]["k"]
        for s in range(20)
    )
    assert wins[0] >= 14, wins
    # deterministic under repartitioning; zero/negative weights never win
    df2 = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(30)] + [(100, -5.0)],
        "k long, w double",
    )
    a = [r["k"] for r in weighted_sample_k(df2, "k", "w", 10).collect()]
    b = [r["k"] for r in weighted_sample_k(df2.repartition(7), "k", "w", 10).collect()]
    assert a == b
    zero_weight = {i for i in range(30) if i % 3 == 0} | {100}
    assert not set(a) & zero_weight
    # top-k is TakeOrderedAndProject, not a global sort
    plan = (
        weighted_sample_k(df2, "k", "w", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    import pytest as _pt

    with _pt.raises(ValueError):
        weighted_sample_k(df2, "k", "w", 0)


def test_asof_null_valued_match_is_atomic(spark):
    """A matched right row whose VALUE is NULL is still the match: the
    returned value must be that row's NULL, never an older row's value
    smuggled past the tolerance window (the torn-carry regression)."""
    from whisper_pandas_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 12)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 7.0), (1, 10, None)], "k long, ts long, value double"
    )
    # tolerance 3: the ts=10 row matches (gap 2) but its value is NULL —
    # 7.0 (gap 7, outside tolerance) must NOT leak through
    got = asof_join(
        left, right, on="k", value_cols=("value",), inner=False,
        tolerance_seconds=3,
    ).collect()
    assert len(got) == 1 and got[0]["value_asof"] is None
    # inner keeps the row: a match EXISTS (pd.merge_asof semantics)
    got_inner = asof_join(
        left, right, on="k", value_cols=("value",), inner=True
    ).collect()
    assert len(got_inner) == 1 and got_inner[0]["value_asof"] is None
    # bucketed plan agrees on the null-valued match
    got_b = asof_join(
        left, right, on="k", value_cols=("value",), inner=True,
        time_bucket_seconds=4,
    ).collect()
    assert len(got_b) == 1 and got_b[0]["value_asof"] is None


def test_metric_correlation_zero_variance_yields_null(spark):
    from whisper_pandas_spark.operators.decompose import metric_correlation

    rows = [("const", i, 5.0) for i in range(5)] + [
        ("up", i, float(i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "metric string, t long, value double")
    out = metric_correlation(df, "metric", "t", "value").collect()
    assert len(out) == 1
    assert out[0]["corr"] is None  # flat series: NULL, not a crash


# -- expectations (data-quality checks) -------------------------------------


def test_expectations_report(spark):
    from whisper_pandas_spark.operators.expectations import (
        custom,
        expect,
        foreign_key_check,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    df = spark.createDataFrame(
        [
            (1, "en", 10, "a@b.co"),
            (2, "en", -5, "bad"),
            (3, None, 250, "c@d.eu"),
            (3, "xx", 30, None),
        ],
        "id long, lang string, n long, email string",
    )
    rep = {
        r["check"]: (r["violations"], r["total"], r["passed"])
        for r in expect(
            df,
            [
                not_null("lang"),
                in_range("n", 0, 100),
                matches("email", r"[a-z]+@[a-z]+\.[a-z]+"),
                in_set("lang", ("en", "de")),
                unique("id"),
                custom("n_odd", F.col("n") % 2 == 1),
            ],
        ).collect()
    }
    assert rep["not_null(lang)"] == (1, 4, False)
    assert rep["in_range(n,0,100)"] == (2, 4, False)  # -5 and 250
    assert rep["matches(email)"] == (2, 4, False)  # 'bad' and NULL
    assert rep["in_set(lang)"] == (2, 4, False)  # NULL and 'xx'
    assert rep["unique(id)"] == (1, 4, False)  # id 3 twice
    assert rep["n_odd"][0] == 0 and rep["n_odd"][2] is True

    ref = spark.createDataFrame([("en",), ("de",)], "code string")
    fk = foreign_key_check(df, "lang", ref, "code").collect()[0]
    assert (fk["violations"], fk["passed"]) == (1, False)  # 'xx'; NULL ok

    import pytest as _pt

    with _pt.raises(ValueError):
        expect(df, [])


def test_expectations_all_green_single_scan(spark):
    from whisper_pandas_spark.operators.expectations import (
        expect,
        in_range,
        not_null,
    )

    df = spark.createDataFrame([(1, 5), (2, 6)], "id long, n long")
    rep = expect(df, [not_null("id"), in_range("n", 0, 10)])
    assert all(r["passed"] for r in rep.collect())
    # the row-predicate checks share ONE aggregation over ONE scan
    # (after execution AQE prints Final + Initial sections — count only
    # the final one)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1


def test_expectations_hostile_check_names_pass_through(spark):
    """ADVICE r5: names containing quotes/backslashes/SQL text must
    survive verbatim (the report is built with Columns, not an F.expr
    string)."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.expectations import custom, expect

    df = spark.createDataFrame([(1,), (None,)], "n int")
    names = [
        "odd ' quote",
        "back\\slash",
        "inject', 0, 0) --",
        'double " quote',
    ]
    rep = expect(
        df, [custom(nm, F.col("n").isNull()) for nm in names]
    ).collect()
    assert sorted(r["check"] for r in rep) == sorted(names)
    assert all(r["violations"] == 1 for r in rep)
