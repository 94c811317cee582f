"""Unit tests for the LLM-pipeline extension operators (X1–X4) on tiny
in-memory data — semantic checks the DuckDB oracle can't express (planted
duplicates, invariance properties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.dedup import (
    exact_dedup,
    lsh_pairs,
    minhash_signature,
    minhash_signature_arrow,
    ngram_jaccard_pairs,
    shingle_hashes_arrow,
    simhash_arrow,
    simhash_df,
    simhash_pairs,
)
from whisper_pandas_spark.operators.similarity import cosine, cosine_topk
from whisper_pandas_spark.operators.textstats import fingerprints, quality_score

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest to find some food for the long cold winter"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("winter", "summer")),  # near-dup of 0
        (3, "completely different text about spark dataframes and shuffles "
            "partitions executors drivers catalyst tungsten codegen stages"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0] == 2  # docs 0 and 1 collapse, representative is min id
    assert out[2] == 1 and out[3] == 1
    assert 1 not in out


def test_minhash_lsh_finds_planted_near_dup(docs):
    sig = minhash_signature(docs, "doc_id", "text", num_perm=12)
    # signatures must differ across permutations (regression: the lambda
    # default-arg bug collapsed all 12 seeds into one hash)
    first = sig.select("sig").first()["sig"]
    assert len(set(first)) > 1
    pairs = {
        (r["doc_i"], r["doc_j"]): r["jaccard"]
        for r in lsh_pairs(sig, bands=4, rows=3, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0  # planted near-dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_arrow_matches_expression_path(docs):
    expr = {
        r["doc_id"]: (sorted(r["hh"]), r["sig"])
        for r in minhash_signature(docs, "doc_id", "text", 12).collect()
    }
    arrow = {
        r["doc_id"]: (sorted(r["hh"]), r["sig"])
        for r in minhash_signature_arrow(docs, "doc_id", "text", 12).collect()
    }
    assert expr == arrow  # identical hash family, bit-for-bit


def test_simhash_arrow_matches_expression_path(docs):
    expr = {r["doc_id"]: r["simhash"] for r in simhash_df(docs, "doc_id", "text").collect()}
    arrow = {r["doc_id"]: r["simhash"] for r in simhash_arrow(docs, "doc_id", "text").collect()}
    assert expr == arrow


def test_ngram_inverted_index_matches_bruteforce(docs):
    """Inverted-index Jaccard equals the direct intersect/union math."""
    from pyspark.sql import functions as F2

    tagged = docs.withColumn("lang", F2.lit("en"))
    got = {
        (r["doc_i"], r["doc_j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            tagged, "doc_id", "text", "lang", threshold=0.5
        ).collect()
    }
    assert got[(0, 1)] == 1.0
    assert 0.5 <= got[(0, 2)] < 1.0
    assert not any(3 in p for p in got)


def test_simhash_identical_and_near(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash_df(docs, "doc_id", "text").collect()}
    assert sh[0] == sh[1]  # identical text -> identical fingerprint
    assert sh[0] != sh[3]
    pairs = {(r["doc_i"], r["doc_j"]): r["hamming"] for r in
             simhash_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs.get((0, 1)) == 0


def test_simhash_pairs_max_bucket_guard(spark):
    # planted skew: 6 identical docs share every band key, so each band
    # bucket holds 6 fingerprints. max_bucket=5 drops those degenerate
    # buckets BEFORE the self-join; without the guard all 15 pairs emerge.
    rows = [(i, BASE) for i in range(6)] + [
        (6, "completely different text about spark dataframes and shuffles"),
        (7, "another unrelated document mentioning parquet files and arrow"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert len([r for r in full if r["doc_i"] < 6 and r["doc_j"] < 6]) == 15
    guarded = simhash_pairs(
        df, "doc_id", "text", max_hamming=3, max_bucket=5
    ).collect()
    assert not [r for r in guarded if r["doc_i"] < 6 and r["doc_j"] < 6]


def test_kmeans_separates_planted_clusters(spark):
    # two tight clusters on orthogonal axes: k=2 must put them in
    # different cells, and each centroid must be the exact member mean
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine
    from whisper_pandas_spark.operators.similarity import ivf_assign

    rows = [(i, [10.0 + i, 1.0]) for i in range(4)] + [
        (10 + i, [1.0, 10.0 + i]) for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = kmeans_cosine(df, 2, iters=2, seed=0)
    cents = cent.collect()
    assert len(cents) == 2
    assigned = ivf_assign(
        df, cent.withColumnRenamed("cid", "vec_id"), 1
    ).collect()
    cells = {r["vec_id"]: r["cell"] for r in assigned}
    assert len({cells[i] for i in range(4)}) == 1
    assert len({cells[10 + i] for i in range(4)}) == 1
    assert cells[0] != cells[10]
    # centroid of the x-cluster = mean of its members
    by_cid = {r["cid"]: r["embedding"] for r in cents}
    x_cell = cells[0]
    assert by_cid[x_cell][0] == pytest.approx(sum(10.0 + i for i in range(4)) / 4)
    assert by_cid[x_cell][1] == pytest.approx(1.0)


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical direction to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [0.9, 0.1, 0.0]),   # close to 0
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    got = [(r["vec_id"], r["rnk"]) for r in out]
    assert got == [(1, 1), (3, 2)]
    assert out[0]["cos_sim"] == 1.0


def test_cosine_nulls_on_zero_vector(spark):
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0])], ["a", "b"]
    ).select(cosine(F.col("a"), F.col("b")).alias("c"))
    assert df.first()["c"] is None  # 0/0 -> NULL, dropped by rank filters


def test_bpe_token_count_matches_python_re(spark):
    """BPE_REGEX must behave identically under Java regex (Spark), RE2
    (DuckDB oracle) and Python re — adversarial cases: contractions, CJK
    runs, bare apostrophes, mixed alnum, tabs, empty."""
    import re

    from whisper_pandas_spark.operators.textstats import BPE_REGEX, bpe_token_count

    cases = [
        "it's a test",
        "我爱 Spark 3.5!",
        "don't... stop-me_now",
        "a1b2 c3",
        "",
        "'''",
        "tab\there",
        "mixed中文words",
        None,
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["n_bpe"] for r in bpe_token_count(df, "doc_id", "text").collect()}
    want = {
        i: len(re.findall(BPE_REGEX, s))
        for i, s in enumerate(cases)
        if s is not None  # NULL text rows are dropped
    }
    assert got == want


def test_quality_gate_equals_scorer_join(spark):
    """The fused single-scan gate must keep exactly the docs that the
    standalone scorers (quality_score ⋈ repetition_stats) would keep."""
    from whisper_pandas_spark.operators.textstats import (
        quality_gate_filter,
        quality_score,
        repetition_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = {
        r["doc_id"]
        for r in quality_gate_filter(
            docs, "doc_id", "text", min_quality=0.6, max_dup_ratio=0.3
        ).select("doc_id").collect()
    }
    q = quality_score(docs, "doc_id", "text").select("doc_id", "quality")
    rep = repetition_stats(docs, "doc_id", "text").select("doc_id", "dup_ratio")
    want = {
        r["doc_id"]
        for r in q.join(rep, "doc_id")
        .filter((F.col("quality") >= 0.6) & (F.col("dup_ratio") <= 0.3))
        .collect()
    }
    assert kept == want and kept  # non-empty at sf0.001


def test_quality_score_bounds(docs):
    for r in quality_score(docs, "doc_id", "text").collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_fingerprints_order_sensitivity(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in fingerprints(df, "doc_id", "text").collect()}
    assert rows[0]["bow_fp"] == rows[1]["bow_fp"]  # same vocabulary
    assert rows[0]["roll_fp"] != rows[1]["roll_fp"]  # different order


def test_null_and_empty_text_parity(spark):
    """Arrow paths must mirror expression-path semantics on NULL/empty/
    whitespace/short text exactly (regression: the Arrow minhash crashed
    on NULL; Arrow simhash hashed the string 'None')."""
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "one two"),
         (4, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    e_mh = {r["doc_id"]: r["sig"] for r in
            minhash_signature(df, "doc_id", "text", 4).collect()}
    a_mh = {r["doc_id"]: r["sig"] for r in
            minhash_signature_arrow(df, "doc_id", "text", 4).collect()}
    assert e_mh == a_mh  # only doc 4 (>= 3 tokens) survives, same sig
    assert list(e_mh) == [4]

    e_sh = {r["doc_id"]: r["simhash"] for r in
            simhash_df(df, "doc_id", "text").collect()}
    a_sh = {r["doc_id"]: r["simhash"] for r in
            simhash_arrow(df, "doc_id", "text").collect()}
    assert e_sh == a_sh  # incl. NULL -> 0 and '' == '   '


def test_fuzzy_pairs_catches_single_char_variant(spark):
    # one flipped character: every shingle changes (MinHash may miss),
    # edit distance is 1 (fuzzy catches); unrelated docs don't pair
    from whisper_pandas_spark.operators.dedup import fuzzy_pairs

    rows = [
        (0, "en", BASE),
        (1, "en", BASE.replace("quick", "quack")),  # inside the 80-char prefix
        (2, "en", "a wholly different document discussing spark physical plans"),
        (3, "de", BASE),  # other block: never compared to 0/1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    pairs = {
        (r["doc_i"], r["doc_j"]): r["edit_dist"]
        for r in fuzzy_pairs(df, "doc_id", "text", "lang", max_edit=5).collect()
    }
    assert pairs.get((0, 1)) == 1  # one substituted character
    assert all(2 not in p and 3 not in p for p in pairs)


def test_ngram_max_df_drops_stop_shingles(spark):
    # 6 docs share a boilerplate prefix (every prefix shingle has df=6);
    # each doc body is unique. With max_df=5 the boilerplate postings
    # drop from the index, the observed intersection shrinks, and the
    # boilerplate-only pairs fall below threshold. True near-dups that
    # ALSO share rare shingles still pair.
    boiler = "terms of service apply to all documents in this collection"
    rows = [
        (i, "en", f"{boiler} unique body {i} alpha beta gamma delta epsilon")
        for i in range(6)
    ] + [
        (10, "en", f"{boiler} same rare body zeta eta theta iota kappa"),
        (11, "en", f"{boiler} same rare body zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    full = {
        (r["doc_i"], r["doc_j"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "lang", threshold=0.5
        ).collect()
    }
    assert (10, 11) in full
    # capped jaccard is a LOWER BOUND (capped shingles leave the
    # intersection but not the set sizes), so the threshold drops with it
    capped = {
        (r["doc_i"], r["doc_j"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", "lang", threshold=0.2, max_df=5
        ).collect()
    }
    assert (10, 11) in capped  # identical bodies: rare shingles keep them
    # boilerplate-only pairs (i<6 x i<6) share ONLY capped shingles ->
    # observed intersection 0 -> gone at any positive threshold
    assert not [p for p in capped if p[0] < 6 and p[1] < 6]


def test_kmeans_empty_cells_drop(spark):
    # k exceeds the number of distinct directions: empty cells disappear
    # (k shrinks) and the trained codebook still drives assignment
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine
    from whisper_pandas_spark.operators.similarity import ivf_assign

    rows = [(i, [1.0, 0.0]) for i in range(3)] + [(10, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cent = kmeans_cosine(df, 4, iters=2, seed=0)
    cents = cent.collect()
    assert 1 <= len(cents) <= 4
    assigned = ivf_assign(df, cent.withColumnRenamed("cid", "vec_id"), 1)
    assert assigned.count() == 4  # every vector still lands in a cell


def test_lsh_multi_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table LSH (the billion-vector recall fix, SCALE.md) must
    recover >= 0.9 of the exact-cosine top-10 per query on the real
    embeddings table at the registered geometry."""
    from whisper_pandas_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh_multi,
    )
    from whisper_pandas_spark.queries_similarity import (
        DIM,
        K,
        N_PLANES_MULTI,
        N_TABLES,
    )
    from whisper_pandas_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)

    truth = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk(emb, q, K).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in cosine_topk_lsh_multi(
            emb, q, K, DIM, n_tables=N_TABLES, n_planes=N_PLANES_MULTI
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_kmeans_checkpoint_bit_identical_and_bounded_plan(spark, sf_dir):
    """checkpoint=True must change the PLAN (lineage truncated to a
    LogicalRDD scan, exchange count constant in iters), never the BITS."""
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine
    from whisper_pandas_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    plain = (
        kmeans_cosine(emb, 8, iters=3, seed=0, checkpoint=False)
        .orderBy("cid")
        .collect()
    )
    ckpt = kmeans_cosine(emb, 8, iters=3, seed=0, checkpoint=True)
    assert ckpt.orderBy("cid").collect() == plain

    # plan boundedness: the checkpointed frame's plan is a scan of the
    # materialized k-row RDD — no Lloyd-iteration operators remain
    plan = ckpt._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_bm25_matches_reference_math(spark):
    """BM25 scores must equal a direct numpy/python computation of the
    Robertson/Lucene formula on a tiny hand-checkable corpus."""
    import math

    from whisper_pandas_spark.operators.textrank import bm25_topk

    corpus = {
        0: "spark join spark window",
        1: "join table",
        2: "vector vector vector stream",
        3: "the quick brown fox",
    }
    df = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    terms = ["spark", "join", "vector"]
    got = {r["doc_id"]: r for r in bm25_topk(df, terms, topk=10).collect()}

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfq = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    k1, b = 1.2, 0.75
    want = {}
    for d, tk in toks.items():
        s, m = 0.0, 0
        for t in terms:
            tf = tk.count(t)
            if tf == 0:
                continue
            m += 1
            idf = math.log((n - dfq[t] + 0.5) / (dfq[t] + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
        if m:
            want[d] = (m, round(s, 6))
    assert set(got) == set(want)  # doc 3 (no query terms) absent
    for d, (m, s) in want.items():
        assert got[d]["n_terms"] == m
        assert got[d]["score"] == pytest.approx(s, abs=1e-6)
    # ranking: higher score first, ties by doc_id, dense 1..k
    ranks = sorted((r["rnk"], r["doc_id"]) for r in got.values())
    scores = [got[d]["score"] for _, d in ranks]
    assert scores == sorted(scores, reverse=True)
    assert [r for r, _ in ranks] == list(range(1, len(got) + 1))


def test_bm25_plan_shape(spark, sf_dir):
    """Top-k must compile to TakeOrderedAndProject; df/stats joins must
    broadcast (no shuffle join for |Q|-row sides)."""
    from whisper_pandas_spark.operators.textrank import bm25_topk
    from whisper_pandas_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    top = bm25_topk(docs, ["spark", "join"], topk=5)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 2  # dfreq + stats


def test_substring_spans_finds_planted_run(spark):
    """A 10-token run copied between two docs at DIFFERENT offsets must
    surface with max_run == 10 exactly; unrelated docs must not pair."""
    from whisper_pandas_spark.operators.dedup import substring_span_pairs

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "intro words here " + run + " trailing bits"),
        (1, run + " completely different ending material now"),
        (2, "nothing shared with anybody in this document at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_i"], r["doc_j"]): (r["max_run"], r["n_runs"])
        for r in substring_span_pairs(df, "doc_id", "text", k=3, min_run=8).collect()
    }
    assert set(got) == {(0, 1)}
    assert got[(0, 1)][0] == 10

    # df guard: a stop-shingle repeated across many docs must not anchor
    boiler = "common header line repeated everywhere always " * 2
    many = [(i, boiler + f"unique tail {i}") for i in range(10)]
    df2 = spark.createDataFrame(many, ["doc_id", "text"])
    full = substring_span_pairs(df2, "doc_id", "text", k=3, min_run=8).collect()
    assert len(full) == 45  # all pairs share the boilerplate run
    guarded = substring_span_pairs(
        df2, "doc_id", "text", k=3, min_run=8, max_df=5
    ).collect()
    assert guarded == []  # stop-shingles dropped before the join


def test_substring_spans_max_df_is_document_frequency(spark):
    """max_df caps DISTINCT docs per shingle, not total occurrences: one
    doc repeating a shingle many times must not evict it corpus-wide, so
    a 2-doc corpus under max_df still surfaces its shared run."""
    from whisper_pandas_spark.operators.dedup import substring_span_pairs

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # doc 0 repeats the run 8x -> every shingle occurs >= 8 times
        (0, " ".join([run] * 8)),
        (1, "prefix words " + run + " suffix words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = substring_span_pairs(
        df, "doc_id", "text", k=3, min_run=8, max_df=5
    ).collect()
    # df per shingle is 2 (two distinct docs) <= 5, so the pair survives
    assert len(got) == 1
    assert (got[0]["doc_i"], got[0]["doc_j"]) == (0, 1)
    assert got[0]["max_run"] >= 10


def test_bm25_empty_query_terms_raises(spark):
    """bm25_topk([]) must fail fast with a clear contract error, not an
    opaque Column.isin() failure deep in planning."""
    import pytest

    from whisper_pandas_spark.operators.textrank import bm25_topk

    df = spark.createDataFrame([(0, "some text")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="query_terms must be non-empty"):
        bm25_topk(df, [])


def test_lsh_multi_arrow_buckets_match_expression(spark, sf_dir):
    """The Arrow bucket stage must produce bit-identical (table, bucket)
    assignments to the interpreted lsh_bucket expression it replaced."""
    from whisper_pandas_spark.operators.similarity import (
        _hyperplane,
        lsh_bucket,
        multi_table_buckets,
    )
    from whisper_pandas_spark.queries_similarity import (
        DIM,
        N_PLANES_MULTI,
        N_TABLES,
    )
    from whisper_pandas_spark.sources.tables import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    table_planes = [
        (t, [_hyperplane(t, p, DIM) for p in range(N_PLANES_MULTI)])
        for t in range(N_TABLES)
    ]
    expr = {}
    for t, planes in table_planes:
        for r in emb.select(
            "vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")
        ).collect():
            expr[(r["vec_id"], t)] = r["b"]
    arrow = {
        (r["vec_id"], r["t"]): r["bucket"]
        for r in multi_table_buckets(
            emb, "vec_id", "embedding", "vec_id", "vec", table_planes
        ).collect()
    }
    assert arrow == expr


# -- semantic_dedup (SemDeDup) ---------------------------------------------


def test_semantic_dedup_keeps_min_id_per_component(spark):
    from whisper_pandas_spark.operators.dedup import semantic_dedup

    # two well-separated centroids; vectors 1,2,3 near +x (one cell),
    # 10,11 near +y (other cell); 1~2~3 are mutual near-dups, 10~11 too,
    # 20 is alone in the +x cell but dissimilar to everyone
    def v(x, y, z):
        return [float(x), float(y), float(z)]

    rows = [
        (1, v(1, 0, 0)),
        (2, v(0.99, 0.05, 0)),
        (3, v(0.98, -0.05, 0)),
        (20, v(0.7, 0, 0.7)),
        (10, v(0, 1, 0)),
        (11, v(0.05, 0.99, 0)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, v(1, 0, 0)), (1, v(0, 1, 0))],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(emb, cent, threshold=0.9).toPandas()
    got = dict(zip(out["vec_id"], out["keep"]))
    assert got == {1: True, 2: False, 3: False, 20: True, 10: True, 11: False}
    assert len(out) == 6  # every input vector gets a verdict


def test_semantic_dedup_max_cell_skips_pairing_not_rows(spark):
    from whisper_pandas_spark.operators.dedup import semantic_dedup

    # 4 identical vectors in one cell: with the guard below the cell
    # size, pairing is skipped and ALL are kept (logged-cell semantics)
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(4)] + [(9, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(emb, cent, threshold=0.9, max_cell=3).toPandas()
    assert out["keep"].all() and len(out) == 5
    out2 = semantic_dedup(emb, cent, threshold=0.9, max_cell=10).toPandas()
    assert sorted(out2[out2["keep"]]["vec_id"]) == [0, 9]


# -- pagerank --------------------------------------------------------------


def _py_pagerank(edges, iters=3, d=0.85):
    """Plain-Python reference: same synchronous updates, double math."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        s = {v: 0.0 for v in nodes}
        for a, b in edges:
            s[b] += r[a] / out[a]
        r = {v: (1.0 - d) / n + d * s[v] for v in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    from whisper_pandas_spark.operators.graph import pagerank

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (1, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        row["node"]: row["rank"]
        for row in pagerank(df, iters=4).collect()
    }
    want = _py_pagerank(edges, iters=4)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    # stochastic + no dangling mass leaks (node 4 has an out-edge)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_edge_cases(spark):
    from whisper_pandas_spark.operators.graph import pagerank

    edges = [(i, (i * 3) % 7) for i in range(7) if i != (i * 3) % 7]
    df = spark.createDataFrame(edges, "src long, dst long")
    # iters=0: uniform start, every node present
    z = pagerank(df, 0).toPandas()
    assert (abs(z["rank"] - 1.0 / len(z)) < 1e-15).all()
    with pytest.raises(ValueError):
        pagerank(df, -1)


def test_pagerank_dangling_node_keeps_teleport_only(spark):
    from whisper_pandas_spark.operators.graph import pagerank

    # 2 -> 1 only: node 1 has no out-edges (dangling, simplified rule)
    df = spark.createDataFrame([(2, 1)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, 1).collect()}
    assert abs(got[2] - 0.15 / 2) < 1e-12  # nothing points at 2
    assert abs(got[1] - (0.15 / 2 + 0.85 * 0.5)) < 1e-12


def test_connected_components_long_chain_converges(spark):
    """A 300-node path graph has diameter 299 — one-hop propagation
    alone would need 299 rounds (far past the 25-round cap and would
    now RAISE); pointer doubling must converge it in <= 25."""
    from whisper_pandas_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "doc_i long, doc_j long"
    )
    out = connected_components(chain).collect()
    assert len(out) == 300
    assert all(r["comp"] == 0 for r in out)  # one component, min id 0


def test_connected_components_raises_when_capped(spark):
    import pytest as _pt

    from whisper_pandas_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_i long, doc_j long"
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)
    # and a disjoint pair of cliques still labels by component minimum
    cliques = spark.createDataFrame(
        [(a, b) for a in (0, 1, 2) for b in (0, 1, 2) if a < b]
        + [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a < b],
        "doc_i long, doc_j long",
    )
    got = {r["node"]: r["comp"] for r in connected_components(cliques).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


# -- seasonal_decompose ----------------------------------------------------


def test_seasonal_decompose_recovers_planted_components(spark):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.decompose import seasonal_decompose

    # value = linear trend + exact period-3 seasonal [3, -1, -2]
    seas = [3.0, -1.0, -2.0]
    rows = [
        ("m", 1_600_000_000 + 60 * i, 10.0 + 0.5 * i + seas[i % 3])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "metric string, epoch long, value double")
    df = df.select(
        "metric", F.timestamp_seconds("epoch").alias("ts"), "value"
    )
    out = (
        seasonal_decompose(df, ("metric",), "ts", "value", 3, 60)
        .orderBy("phase", "ts")
        .toPandas()
    )
    assert len(out) == 30
    mid = out[out["trend"].notna()]
    assert len(mid) == 28  # one edge row lost each side (odd period)
    # centered MA over a linear trend + zero-mean seasonal = the trend
    for _, r in mid.iterrows():
        i = (r["ts"].timestamp() - 1_600_000_000) / 60
        assert abs(r["trend"] - (10.0 + 0.5 * i)) < 1e-6, i
    # seasonal per phase ~= planted (mean-centered: planted sums to 0);
    # phase is (epoch/res) % period, so the grid start offsets the index
    off = (1_600_000_000 // 60) % 3
    by_phase = mid.groupby("phase")["seasonal"].first()
    for p in range(3):
        assert abs(by_phase[p] - seas[(p - off) % 3]) < 1e-6, p
    assert (mid["residual"].abs() < 1e-5).all()


def test_seasonal_decompose_even_period_and_validation(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.decompose import seasonal_decompose

    seas = [2.0, 0.0, -1.0, -1.0]
    rows = [
        ("m", 1_600_000_000 + 10 * i, 5.0 + 1.0 * i + seas[i % 4])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "metric string, epoch long, value double"
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    out = seasonal_decompose(df, ("metric",), "ts", "value", 4, 10).toPandas()
    mid = out[out["trend"].notna()]
    assert len(mid) == 40 - 4  # 2 lost per side (even period, 2xMA)
    for _, r in mid.iterrows():
        i = (r["ts"].timestamp() - 1_600_000_000) / 10
        assert abs(r["trend"] - (5.0 + 1.0 * i)) < 1e-6
    assert (mid["residual"].abs() < 1e-5).all()
    with _pt.raises(ValueError):
        seasonal_decompose(df, ("metric",), "ts", "value", 1, 10)
    with _pt.raises(ValueError):
        seasonal_decompose(df, ("metric",), "ts", "value", 4, 0)


# -- holt_forecast ---------------------------------------------------------


def test_holt_forecast_tracks_linear_series_exactly(spark):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.forecast import holt_forecast

    rows = [("m", 1_600_000_000 + 60 * i, 7.0 + 2.5 * i) for i in range(20)]
    rows += [("short", 1_600_000_000, 1.0)]  # single point: dropped
    df = spark.createDataFrame(
        rows, "metric string, epoch long, value double"
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    out = holt_forecast(df, ("metric",), "ts", "value", 0.4, 0.2, 3).toPandas()
    assert sorted(out["metric"].unique()) == ["m"]  # short series dropped
    # a perfectly linear series is tracked exactly: level = last point,
    # slope = the true slope, forecasts extrapolate the line
    last = 7.0 + 2.5 * 19
    for _, r in out.iterrows():
        assert abs(r["level"] - last) < 1e-9
        assert abs(r["slope"] - 2.5) < 1e-9
        assert abs(r["yhat"] - (last + 2.5 * r["h"])) < 1e-6
    assert sorted(out["h"]) == [1, 2, 3]


def test_holt_forecast_matches_python_reference_and_validates(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.forecast import holt_forecast

    vals = [5.0, 9.0, 4.0, 12.0, 8.0, 15.0, 11.0]
    rows = [("m", 1_600_000_000 + 10 * i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "metric string, epoch long, value double"
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    a, b = 0.5, 0.3
    l, bb = vals[0], vals[1] - vals[0]
    for x in vals[1:]:
        nl = a * x + (1.0 - a) * (l + bb)
        bb = b * (nl - l) + (1.0 - b) * bb
        l = nl
    out = holt_forecast(df, ("metric",), "ts", "value", a, b, 2).toPandas()
    r1 = out[out["h"] == 1].iloc[0]
    assert abs(r1["level"] - round(l, 6)) < 1e-9
    assert abs(r1["slope"] - round(bb, 6)) < 1e-9
    assert abs(r1["yhat"] - round(l + bb, 6)) < 1e-9
    for bad in (dict(alpha=0.0), dict(alpha=1.5), dict(beta=-0.1)):
        kw = dict(alpha=0.5, beta=0.3)
        kw.update(bad)
        with _pt.raises(ValueError):
            holt_forecast(df, ("metric",), "ts", "value", horizon=2, **kw)
    with _pt.raises(ValueError):
        holt_forecast(df, ("metric",), "ts", "value", 0.5, 0.3, 0)


# -- HLL sketch tables -----------------------------------------------------


def test_hll_sketch_tables_merge_losslessly(spark, tmp_path):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        hll_rollup_estimate,
        hll_shard_sketches,
    )

    # 3 "shards" with overlapping user sets; 2 groups
    df = spark.createDataFrame(
        [(i % 3, "g" + str(i % 2), i % 500) for i in range(6000)],
        "shard int, grp string, user long",
    )
    # per-(shard, grp) sketch table, persisted like a daily job would
    sk = hll_shard_sketches(df, ("shard", "grp"), "user")
    path = str(tmp_path / "sketches")
    sk.write.parquet(path)  # BINARY sketch column round-trips parquet
    sk2 = spark.read.parquet(path)

    # rollup to grp: merged-from-shards == sketched-from-raw, EXACTLY
    from_shards = {
        r["grp"]: r["n_distinct"]
        for r in hll_rollup_estimate(sk2, ("grp",)).collect()
    }
    from_raw = {
        r["grp"]: r["n_distinct"]
        for r in hll_rollup_estimate(
            hll_shard_sketches(df, ("grp",), "user"), ("grp",)
        ).collect()
    }
    assert from_shards == from_raw
    # accuracy: within 5% of exact (lg_k=12 rse ~1.6%)
    exact = {
        r["grp"]: r["n"]
        for r in df.groupBy("grp").agg(
            F.countDistinct("user").alias("n")
        ).collect()
    }
    for g, n in exact.items():
        assert abs(from_shards[g] - n) / n < 0.05, (g, from_shards[g], n)
    # grand total via empty key tuple
    total = hll_rollup_estimate(sk2, ()).collect()[0]["n_distinct"]
    assert abs(total - 500) / 500 < 0.05


def test_hist_quantile_sketches_merge_exactly(spark, tmp_path):
    """Quantile sketch tables (VERDICT r5 Missing #2): per-shard
    histograms merge element-wise to EXACTLY the whole-data histogram,
    round-trip parquet, and in the exact regime (bin width <= value
    resolution) reproduce the definitional quantile; coarse bins stay
    within one bin width."""
    import math
    import random

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        hist_quantiles,
        hist_rollup,
        hist_shard_sketches,
    )

    rng = random.Random(7)
    rows = [
        (i % 4, "g" + str(i % 2), rng.randrange(0, 100)) for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "shard int, grp string, v long")

    sk = hist_shard_sketches(df, ("shard", "grp"), "v", 0.0, 100.0, 100)
    path = str(tmp_path / "hist")
    sk.write.parquet(path)  # ARRAY<BIGINT> round-trips parquet
    sk2 = spark.read.parquet(path)

    merged = {
        r["grp"]: r["cnt"] for r in hist_rollup(sk2, ("grp",)).collect()
    }
    whole = {
        r["grp"]: r["cnt"]
        for r in hist_shard_sketches(df, ("grp",), "v", 0.0, 100.0, 100).collect()
    }
    assert merged == whole  # element-wise exact

    qs = (0.25, 0.5, 0.9)
    got = {
        (r["grp"], r["q"]): (r["n"], r["quantile"])
        for r in hist_quantiles(
            hist_rollup(sk2, ("grp",)), ("grp",), qs, 0.0, 100.0, 100
        ).collect()
    }
    by_grp: dict[str, list[int]] = {}
    for _s, g, v in rows:
        by_grp.setdefault(g, []).append(v)
    for g, vals in by_grp.items():
        vals.sort()
        n = len(vals)
        for q in qs:
            k = math.ceil(q * n)  # sketch's own definition
            expected = float(vals[k - 1])
            gn, gq = got[(g, q)]
            assert gn == n
            assert gq == expected, (g, q, gq, expected)

    # approximate regime: 10 coarse bins -> within one bin width (10)
    coarse = hist_quantiles(
        hist_rollup(
            hist_shard_sketches(df, ("grp",), "v", 0.0, 100.0, 10), ("grp",)
        ),
        ("grp",), qs, 0.0, 100.0, 10,
    ).collect()
    for r in coarse:
        _n, exact_q = got[(r["grp"], r["q"])]
        assert abs(r["quantile"] - exact_q) < 10.0

    # under/overflow clamp + validation
    odf = spark.createDataFrame([("a", -5), ("a", 500)], "grp string, v long")
    osk = hist_shard_sketches(odf, ("grp",), "v", 0.0, 100.0, 10)
    cnt = osk.collect()[0]["cnt"]
    assert cnt[0] == 1 and cnt[-1] == 1 and sum(cnt) == 2
    oq = hist_quantiles(osk, ("grp",), (0.25, 1.0), 0.0, 100.0, 10).collect()
    vals = {r["q"]: r["quantile"] for r in oq}
    assert vals[0.25] == 0.0 and vals[1.0] == 100.0
    import pytest as _pt

    with _pt.raises(ValueError):
        hist_shard_sketches(df, ("grp",), "v", 0.0, 0.0, 10)
    with _pt.raises(ValueError):
        hist_quantiles(osk, ("grp",), (), 0.0, 100.0, 10)


def test_topk_sketches_exact_and_bounded(spark, tmp_path):
    """Heavy-hitters sketch tables: exact regime (capacity >= distinct)
    merges to the true top-k with lo == hi; truncated regime keeps
    two-sided bounds lo <= true <= hi and still surfaces the dominant
    item; parquet round-trip preserved."""
    import random

    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        topk_rollup,
        topk_shard_sketches,
    )

    rng = random.Random(3)
    # skewed: item 0 dominates, zipf-ish tail over 50 items, 2 groups
    rows = []
    for i in range(6000):
        item = 0 if rng.random() < 0.3 else rng.randrange(1, 50)
        rows.append((i % 4, "g" + str(i % 2), item))
    df = spark.createDataFrame(rows, "shard int, grp string, item long")

    # exact regime
    sk = topk_shard_sketches(df, ("grp", "shard"), "item", capacity=1000)
    path = str(tmp_path / "topk")
    sk.write.parquet(path)
    got = {
        (r["grp"], r["rnk"]): (r["item"], r["count_lo"], r["count_hi"])
        for r in topk_rollup(
            spark.read.parquet(path), ("grp",), 3
        ).collect()
    }
    truth: dict[str, dict[int, int]] = {}
    for _s, g, it in rows:
        truth.setdefault(g, {}).setdefault(it, 0)
        truth[g][it] += 1
    for g, cnts in truth.items():
        top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rnk, (it, n) in enumerate(top, 1):
            assert got[(g, rnk)] == (it, n, n), (g, rnk)

    # truncated regime: capacity 5 per shard
    sk5 = topk_shard_sketches(df, ("grp", "shard"), "item", capacity=5)
    rest = {r["grp"] + str(r["shard"]): r["rest_max"] for r in sk5.collect()}
    assert any(v > 0 for v in rest.values())  # truncation actually happened
    approx = topk_rollup(sk5, ("grp",), 3).collect()
    for r in approx:
        true_n = truth[r["grp"]].get(r["item"], 0)
        assert r["count_lo"] <= true_n <= r["count_hi"], (
            r["item"], r["count_lo"], true_n, r["count_hi"],
        )
    # the dominant item survives truncation as rank 1 in both groups
    top1 = {r["grp"]: r["item"] for r in approx if r["rnk"] == 1}
    assert top1 == {"g0": 0, "g1": 0}

    import pytest as _pt

    with _pt.raises(ValueError):
        topk_shard_sketches(df, ("grp",), "item", capacity=0)
    with _pt.raises(ValueError):
        topk_rollup(sk5, ("grp",), 0)


def test_incremental_agg_matches_rebuild_and_is_associative(spark):
    """agg_apply(state(A), changes) == agg_state(final rows); applying
    two batches equals one; min/max insert-only path works; min/max
    under deletes refuses."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.incremental import (
        agg_apply,
        agg_state,
    )

    rows = [(i % 3, float(i), i) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, x double, id long")
    measures = {"x": ("sum", "count")}
    base = df.filter(F.col("id") < 40)
    state = agg_state(base, ("k",), measures)

    ins = df.filter(F.col("id") >= 40).withColumn("d", F.lit(False))
    dels = df.filter((F.col("id") < 40) & (F.col("id") % 4 == 0)).withColumn(
        "d", F.lit(True)
    )
    changes = ins.select("k", "x", "d").unionByName(dels.select("k", "x", "d"))

    def snap(sdf):
        return {
            r["k"]: (r["__n"], r["x_sum"], r["x_count"]) for r in sdf.collect()
        }

    got = snap(agg_apply(state, changes, ("k",), measures, delete_col="d"))
    final_rows = df.filter(
        (F.col("id") >= 40) | (F.col("id") % 4 != 0)
    )
    want = snap(agg_state(final_rows, ("k",), measures))
    assert got == want

    # associativity: two batches == one
    s1 = agg_apply(state, ins.select("k", "x", "d"), ("k",), measures, "d")
    s2 = agg_apply(s1, dels.select("k", "x", "d"), ("k",), measures, "d")
    assert snap(s2) == want

    # a group emptied by retractions disappears
    only9 = spark.createDataFrame([(9, 1.0)], "k int, x double")
    st9 = agg_state(only9, ("k",), measures)
    gone = agg_apply(
        st9,
        only9.withColumn("d", F.lit(True)),
        ("k",),
        measures,
        delete_col="d",
    )
    assert gone.filter(F.col("k") == 9).count() == 0

    # insert-only min/max
    mm = {"x": ("min", "max")}
    st = agg_state(base, ("k",), mm)
    upd = agg_apply(st, spark.createDataFrame([(0, -5.0), (0, 99.0)], "k int, x double"), ("k",), mm)
    r0 = {r["k"]: (r["x_min"], r["x_max"]) for r in upd.collect()}[0]
    assert r0 == (-5.0, 99.0)

    import pytest as _pt

    with _pt.raises(ValueError, match="not retractable"):
        agg_apply(st, changes, ("k",), mm, delete_col="d")
    with _pt.raises(ValueError):
        agg_state(base, ("k",), {})
    with _pt.raises(ValueError):
        agg_state(base, ("k",), {"x": ("median",)})
    # sum under retraction without the liveness count refuses (r6 advisory)
    with _pt.raises(ValueError, match="requires count"):
        agg_apply(
            agg_state(base, ("k",), {"x": ("sum",)}),
            changes,
            ("k",),
            {"x": ("sum",)},
            delete_col="d",
        )


def test_incremental_agg_sum_nulls_when_nonnull_rows_retracted(spark):
    """r6 advisory: retracting every NON-NULL measure row of a group
    whose null-measure rows keep __n > 0 must null the sum (state ==
    rebuild), not leave 0."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.incremental import (
        agg_apply,
        agg_state,
    )

    measures = {"x": ("sum", "count")}
    base = spark.createDataFrame(
        [(1, 5.0), (1, None), (1, None)], "k int, x double"
    )
    state = agg_state(base, ("k",), measures)
    retract = spark.createDataFrame([(1, 5.0, True)], "k int, x double, d boolean")
    new = agg_apply(state, retract, ("k",), measures, delete_col="d")
    rebuilt = agg_state(
        spark.createDataFrame([(1, None), (1, None)], "k int, x double"),
        ("k",),
        measures,
    )
    got = [(r["__n"], r["x_sum"], r["x_count"]) for r in new.collect()]
    want = [(r["__n"], r["x_sum"], r["x_count"]) for r in rebuilt.collect()]
    assert got == want == [(2, None, 0)]


def test_logreg_softsign_separable_and_deterministic(spark):
    """The in-engine classifier learns a separable rule, is independent
    of partitioning (decimal gradient folds), and matches an
    independent numpy replay of the identical update rule."""
    import numpy as np
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )

    rng = np.random.default_rng(5)
    x = rng.normal(size=(400, 2))
    y = (x[:, 0] + 0.5 * x[:, 1] > 0).astype(float)
    df = spark.createDataFrame(
        [(float(a), float(b), float(t)) for (a, b), t in zip(x, y)],
        "x0 double, x1 double, y double",
    )
    w = logreg_train(df, ["x0", "x1"], "y", iters=12, lr=2.0)
    scored = logreg_score(df, w, ["x0", "x1"])
    acc = scored.filter(
        (F.col("pred") & (F.col("y") == 1.0))
        | (~F.col("pred") & (F.col("y") == 0.0))
    ).count() / 400.0
    assert acc > 0.93, (acc, w)

    # partitioning independence, bit-for-bit
    w2 = logreg_train(df.repartition(13), ["x0", "x1"], "y", iters=12, lr=2.0)
    assert w == w2

    # independent numpy replay of the documented update rule
    wn = np.zeros(3)
    n = len(y)
    for _ in range(12):
        m = x[:, 0] * wn[0] + x[:, 1] * wn[1] + wn[2]
        p = 0.5 * (1 + m / (1 + np.abs(m)))
        err = p - y
        g = [float((err * x[:, 0]).sum()), float((err * x[:, 1]).sum()),
             float(err.sum())]
        wn = np.array([wn[j] - 2.0 * g[j] / n for j in range(3)])
    assert np.allclose(w, wn, atol=1e-9), (w, wn.tolist())

    import pytest as _pt

    with _pt.raises(ValueError):
        logreg_train(df, [], "y")
    with _pt.raises(ValueError):
        logreg_train(df, ["x0"], "y", iters=0)
    with _pt.raises(ValueError, match="empty"):
        logreg_train(df.limit(0), ["x0"], "y")


# -- KLL bounded-error mergeable quantile sketch ------------------------------


def test_kll_exact_regime_merged_equals_direct_equals_truth(spark):
    """While no compaction fires (n <= k per group), shard->merge->read
    equals a direct single sketch equals the true quantiles under the
    shared smallest-v-with-cum>=ceil(q*n) definition."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        kll_merge,
        kll_quantiles,
        kll_shard_sketches,
    )

    rows = [("a", i % 4, float(v)) for i, v in enumerate([7, 1, 9, 3, 5, 2, 8, 4, 6, 0])]
    rows += [("b", i % 4, float(v * 10)) for i, v in enumerate(range(20))]
    df = spark.createDataFrame(rows, "grp string, shard int, v double")
    qs = (0.1, 0.5, 0.9)

    sharded = kll_merge(
        kll_shard_sketches(df, ("grp", "shard"), "v", k=64), ("grp",)
    )
    direct = kll_shard_sketches(df, ("grp",), "v", k=64)
    got_m = {
        (r["grp"], r["q"]): (r["n"], r["quantile"])
        for r in kll_quantiles(sharded, ("grp",), qs).collect()
    }
    got_d = {
        (r["grp"], r["q"]): (r["n"], r["quantile"])
        for r in kll_quantiles(direct, ("grp",), qs).collect()
    }
    assert got_m == got_d
    import math

    truth = {}
    for grp, vals in (
        ("a", sorted(float(v) for v in [7, 1, 9, 3, 5, 2, 8, 4, 6, 0])),
        ("b", sorted(float(v * 10) for v in range(20))),
    ):
        n = len(vals)
        for q in qs:
            truth[(grp, q)] = (n, vals[max(math.ceil(q * n), 1) - 1])
    assert got_m == truth


def test_kll_weight_invariant_and_parquet_roundtrip(spark, tmp_path):
    """n (total weight) is exact through compaction, merge, and a
    parquet write/read of the sketch table (plain Spark types)."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        kll_merge,
        kll_quantiles,
        kll_shard_sketches,
    )

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("shard"),
        F.lit("g").alias("grp"),
        (F.pmod(F.col("id") * 2654435761, F.lit(100000)).cast("double")).alias("v"),
    )
    shards = kll_shard_sketches(df, ("grp", "shard"), "v", k=32)
    p = str(tmp_path / "kll")
    shards.write.parquet(p)
    back = spark.read.parquet(p)
    merged = kll_merge(back, ("grp",))
    row = merged.collect()[0]
    assert row["n"] == 5000
    qrow = kll_quantiles(merged, ("grp",), (0.5,)).collect()[0]
    assert qrow["n"] == 5000


def test_kll_rank_error_bound_in_compacting_regime(spark):
    """Normalized rank error of the merged sketch stays within the
    O(1/k) KLL bound (empirical pin: 0.025 at k=200, n=20k, mixed
    uniform+skew distribution, 8 shards)."""
    import random

    from whisper_pandas_spark.operators.sketches import (
        kll_merge,
        kll_quantiles,
        kll_shard_sketches,
    )

    rnd = random.Random(11)
    vals = [rnd.uniform(0, 1000) for _ in range(12000)]
    vals += [rnd.gauss(500, 5) for _ in range(6000)]      # heavy spike
    vals += [float(rnd.randint(0, 10)) for _ in range(2000)]  # discrete clump
    df = spark.createDataFrame(
        [(i % 8, v) for i, v in enumerate(vals)], "shard int, v double"
    ).withColumn("grp", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("g"))
    merged = kll_merge(
        kll_shard_sketches(df, ("grp", "shard"), "v", k=200), ("grp",)
    )
    qs = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    got = {
        r["q"]: r["quantile"]
        for r in kll_quantiles(merged, ("grp",), qs).collect()
    }
    svals = sorted(vals)
    n = len(svals)
    import bisect

    for q, est in got.items():
        # rank range covered by the estimate (ties span an interval)
        lo = bisect.bisect_left(svals, est) / n
        hi = bisect.bisect_right(svals, est) / n
        err = 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))
        assert err <= 0.025, (q, est, lo, hi)


def test_kll_refuses_tiny_k():
    import pytest as _pt

    from whisper_pandas_spark.operators.sketches import _KLL

    with _pt.raises(ValueError):
        _KLL(4, 0)


# -- KMV (theta-style) set-operation sketches ---------------------------------


def test_kmv_rollup_equals_direct_and_exact_regime(spark):
    """Bottom-k mergeability is EXACT: rollup of shard sketches equals
    the direct sketch bit-for-bit (any overall bottom-k hash is in its
    shard's bottom-k). Below capacity the estimate is the exact count."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        kmv_estimate,
        kmv_rollup,
        kmv_shard_sketches,
    )

    rows = [("g1", i % 5, f"u{i % 37}") for i in range(200)]
    rows += [("g2", i % 5, f"v{i % 11}") for i in range(80)]
    df = spark.createDataFrame(rows, "grp string, shard int, user string")

    direct = kmv_shard_sketches(df, ("grp",), "user", k=64)
    rolled = kmv_rollup(
        kmv_shard_sketches(df, ("grp", "shard"), "user", k=64), ("grp",)
    )
    d = {r["grp"]: (r["k"], r["hs"]) for r in direct.collect()}
    m = {r["grp"]: (r["k"], r["hs"]) for r in rolled.collect()}
    assert d == m
    est = {
        r["grp"]: r["n_distinct_est"]
        for r in kmv_estimate(rolled, ("grp",)).collect()
    }
    assert est == {"g1": 37.0, "g2": 11.0}  # below k=64: exact


def test_kmv_estimator_accuracy_and_pair_ops(spark):
    """Approximate regime: distinct estimate within ~4/sqrt(k); pairwise
    union/intersection/jaccard track planted overlap."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sketches import (
        kmv_estimate,
        kmv_pair_ops,
        kmv_shard_sketches,
    )

    # A = u0..u1999, B = u1000..u2999 -> |A|=|B|=2000, inter=1000, union=3000
    rows = [("A", f"u{i}") for i in range(2000)]
    rows += [("B", f"u{i}") for i in range(1000, 3000)]
    df = spark.createDataFrame(rows, "grp string, user string")
    sk = kmv_shard_sketches(df, ("grp",), "user", k=256)
    est = {
        r["grp"]: r["n_distinct_est"]
        for r in kmv_estimate(sk, ("grp",)).collect()
    }
    for g in ("A", "B"):
        assert abs(est[g] - 2000) / 2000 < 4 / (256 ** 0.5), est
    ops = kmv_pair_ops(sk, "grp").collect()
    assert len(ops) == 1
    r = ops[0]
    assert (r["key_a"], r["key_b"]) == ("A", "B")
    assert abs(r["union_est"] - 3000) / 3000 < 4 / (256 ** 0.5)
    assert abs(r["jaccard"] - 1 / 3) < 0.12
    assert abs(r["inter_est"] - 1000) / 1000 < 0.4
    # identical sets -> jaccard exactly 1, inter == union
    same = kmv_shard_sketches(
        spark.createDataFrame(
            [("X", f"u{i}") for i in range(500)]
            + [("Y", f"u{i}") for i in range(500)],
            "grp string, user string",
        ),
        ("grp",),
        "user",
        k=128,
    )
    rr = kmv_pair_ops(same, "grp").collect()[0]
    assert rr["jaccard"] == 1.0 and rr["inter_est"] == rr["union_est"]


def test_kmv_refuses_tiny_k(spark):
    import pytest as _pt

    from whisper_pandas_spark.operators.sketches import kmv_shard_sketches

    df = spark.createDataFrame([("g", "u")], "grp string, user string")
    with _pt.raises(ValueError):
        kmv_shard_sketches(df, ("grp",), "user", k=1)


def test_join_view_maintenance_matches_recompute(spark):
    """Key-scoped delete+insert IVM: after two change batches touching
    both sides (updates, inserts, deletes, many-to-many keys), the
    maintained view equals the full recompute; batching is associative."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.incremental import (
        join_view_apply,
        join_view_touched,
    )
    from whisper_pandas_spark.operators.merge import merge_changes

    a0 = spark.createDataFrame(
        [(k, f"a{k}", i) for k in range(6) for i in range(k % 3 + 1)],
        "k int, a string, ai int",
    )
    b0 = spark.createDataFrame(
        [(k, k * 10.0) for k in range(1, 8)], "k int, bv double"
    )
    view = a0.join(b0, "k")

    def snap(df):
        return sorted(map(tuple, df.collect()))

    # batch 1: update a at k=2 (replace its rows), insert k=9 on both
    # sides, delete b at k=3
    da = spark.createDataFrame(
        [(2, "A2", 99, False), (9, "a9", 0, False)],
        "k int, a string, ai int, del boolean",
    )
    db = spark.createDataFrame(
        [(9, 90.0, False), (3, None, True)], "k int, bv double, del boolean"
    )
    # maintain the BASE tables with the ordinary MERGE... (a is keyed by
    # (k, ai) in spirit; for the view contract, a change batch REPLACES
    # all rows at its key: delete-then-insert via merge on k)
    a1 = merge_changes(a0, da, "k", "del")
    b1 = merge_changes(b0, db, "k", "del")
    touched = join_view_touched(da, db, "k")
    view = join_view_apply(view, a1, b1, "k", touched)
    assert snap(view) == snap(a1.join(b1, "k"))

    # batch 2: touch only one side; key 9 changes again
    da2 = spark.createDataFrame(
        [(9, "a9b", 1, False), (5, None, 0, True)],
        "k int, a string, ai int, del boolean",
    )
    a2 = merge_changes(a1, da2, "k", "del")
    touched2 = join_view_touched(da2, None, "k")
    view = join_view_apply(view, a2, b1, "k", touched2)
    assert snap(view) == snap(a2.join(b1, "k"))

    import pytest as _pt

    with _pt.raises(ValueError):
        join_view_touched(None, None, "k")


def test_mmr_spreads_across_planted_clusters(spark):
    """lam=1 degenerates to plain relevance top-k (near-dups of the best
    hit); lam=0.3 must spread the first picks across the two planted
    clusters; determinism across partitionings."""
    from whisper_pandas_spark.operators.diversify import mmr_select

    # cluster X: near the query; cluster Y: orthogonal-ish but present
    rows = [(i, [10.0 + 0.01 * i, 0.2 * i]) for i in range(5)]          # X
    rows += [(10 + i, [0.3 * i, 10.0 + 0.01 * i]) for i in range(5)]    # Y
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [1.0, 0.1]

    rel_only = mmr_select(df, q, k=4, lam=1.0).collect()
    assert all(r["vec_id"] < 5 for r in rel_only)  # all from cluster X

    spread = mmr_select(df, q, k=4, lam=0.3).collect()
    picked = [r["vec_id"] for r in spread]
    assert any(v >= 10 for v in picked[:2]), picked  # Y enters early
    assert len(set(picked)) == 4
    # rank 1 is always the pure-relevance argmax
    assert spread[0]["vec_id"] == rel_only[0]["vec_id"]
    # scores non-increasing is NOT guaranteed by MMR, but relevance of
    # rank1 is the max relevance
    assert spread[0]["relevance"] == max(r["relevance"] for r in spread)

    again = mmr_select(df.repartition(7), q, k=4, lam=0.3).collect()
    assert [(r["rnk"], r["vec_id"]) for r in again] == [
        (r["rnk"], r["vec_id"]) for r in spread
    ]

    # k larger than corpus: stops at corpus size
    small = mmr_select(df.limit(3), q, k=10, lam=0.5).collect()
    assert len(small) == 3

    import pytest as _pt

    with _pt.raises(ValueError):
        mmr_select(df, q, k=0)
    with _pt.raises(ValueError):
        mmr_select(df, q, k=1, lam=1.5)


def test_cohort_retention_planted(spark):
    """Planted cohort behavior: users u1/u2 start in bucket 0 (u1 active
    in buckets 0,1,2; u2 only bucket 0), u3 starts bucket 1 (active 1,2).
    offset-0 retention is always 1.0."""
    import datetime as dt

    from whisper_pandas_spark.operators.cohort import cohort_retention

    B = 7 * 86400
    t0 = dt.datetime(2024, 1, 4)  # epoch 1704326400 -> bucket 19726

    def at(bucket, u):
        return (u, t0 + dt.timedelta(seconds=bucket * B))

    rows = [at(0, "u1"), at(0, "u1"), at(1, "u1"), at(2, "u1"),
            at(0, "u2"), at(1, "u3"), at(2, "u3")]
    df = spark.createDataFrame(rows, "user string, ts timestamp")
    got = {
        (r["cohort"], r["offset"]): (r["n_active"], r["cohort_size"], r["retention"])
        for r in cohort_retention(df, "user", "ts").collect()
    }
    c0 = min(k[0] for k in got)
    assert got[(c0, 0)] == (2, 2, 1.0)
    assert got[(c0, 1)] == (1, 2, 0.5)
    assert got[(c0, 2)] == (1, 2, 0.5)
    assert got[(c0 + 1, 0)] == (1, 1, 1.0)
    assert got[(c0 + 1, 1)] == (1, 1, 1.0)
    assert all(r == 1.0 for (c, o), (_, _, r) in got.items() if o == 0)


def test_linear_trend_exact_line_and_degenerate(spark):
    """A perfect line recovers slope/intercept with r2 == 1; constant y
    gives NULL slope (zero x-variance groups too); values match a numpy
    polyfit reference within rounding."""
    import datetime as dt

    import numpy as np

    from whisper_pandas_spark.operators.decompose import linear_trend

    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(50):
        ts = t0 + dt.timedelta(seconds=60 * i)
        rows.append(("line", ts, 5.0 + 0.002 * 60 * i))  # slope 0.002/s
        rows.append(("noisy", ts, 1.0 + 0.01 * i + (0.05 if i % 7 == 0 else -0.01)))
        rows.append(("flat", ts, 42.0))
    rows.append(("point", t0, 1.0))
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    got = {r["k"]: r for r in linear_trend(df, "k", "ts", "v").collect()}

    assert abs(got["line"]["slope"] - 0.002) < 1e-9
    assert abs(got["line"]["intercept"] - 5.0) < 1e-6
    assert abs(got["line"]["r2"] - 1.0) < 1e-9
    # flat: zero y variance -> slope 0, r2 NULL
    assert got["flat"]["slope"] == 0.0 and got["flat"]["r2"] is None
    # single point: zero x variance -> NULLs
    assert got["point"]["slope"] is None and got["point"]["r2"] is None
    # noisy series tracks numpy polyfit on the SCALED integer data
    xs = np.array([60.0 * i for i in range(50)])
    ys = np.array([round((1.0 + 0.01 * i + (0.05 if i % 7 == 0 else -0.01)) * 1000) / 1000
                   for i in range(50)])
    ref_slope, ref_int = np.polyfit(xs, ys, 1)
    assert abs(got["noisy"]["slope"] - ref_slope) < 1e-9
    assert abs(got["noisy"]["intercept"] - ref_int) < 1e-6
    assert 0.9 < got["noisy"]["r2"] <= 1.0
    # determinism across partitionings (decimal folds)
    again = {r["k"]: r for r in linear_trend(df.repartition(13), "k", "ts", "v").collect()}
    for k in got:
        assert got[k]["slope"] == again[k]["slope"], k


# -- round-7b: collocation lift ------------------------------------------------


def test_collocation_lift_planted_phrase(spark):
    """A planted always-adjacent pair must out-lift every common pair,
    with counts and the lift value matching the hand formula."""
    from whisper_pandas_spark.operators.collocations import collocation_lift

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{filler} hong kong {filler}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, text string")
    out = collocation_lift(df, "text", min_count=5, k=5).collect()
    top = out[0]
    assert (top.w1, top.w2) == ("hong", "kong")
    assert top.n_ab == 10 and top.n_a == 10 and top.n_b == 10
    # N = 10 docs * 18 tokens
    assert top.n_total == 180
    assert top.lift == (10 * 180) / (10 * 10)
    # every filler-filler adjacency has lift N * 10 / (20 * 20) < top
    assert all(r.lift < top.lift for r in out[1:])


def test_collocation_lift_tokenizer_and_min_count(spark):
    """Punctuation splits tokens (shared tokenize family) and pairs
    below min_count are dropped."""
    from whisper_pandas_spark.operators.collocations import collocation_lift

    df = spark.createDataFrame(
        [(1, "Foo-Bar! foo bar?"), (2, "foo bar baz")],
        "id long, text string",
    )
    out = collocation_lift(df, "text", min_count=3, k=10).collect()
    assert [(r.w1, r.w2, r.n_ab) for r in out] == [("foo", "bar", 3)]


# -- round-7b: CUSUM changepoint -----------------------------------------------


def test_changepoint_finds_planted_level_shift(spark):
    """A clean mean shift at bucket 10 of 20 must be located exactly,
    and the statistic must match the integer formula."""
    from whisper_pandas_spark.operators.changepoint import changepoint_max_cusum

    rows = []
    for d in range(20):
        v = 1.0 if d < 10 else 5.0
        rows.append(("m1", f"2024-01-{d+1:02d} 12:00:00", v))
    df = spark.createDataFrame(rows, "k string, ts string, value string").select(
        "k", F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    out = changepoint_max_cusum(df, ["k"], "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_buckets == 20 and str(r.cp_bucket).startswith("2024-01-10")
    # S_10 = 10*1000, S_n = 10*1000 + 10*5000; D_10 = 20*10000 - 10*60000
    assert r.s_n == 60000
    assert r.d_stat == abs(20 * 10000 - 10 * 60000)


def test_changepoint_tie_breaks_earliest_and_min_buckets(spark):
    """Constant series tie everywhere (D_t = 0) -> earliest interior
    bucket wins; series shorter than min_buckets are dropped."""
    from whisper_pandas_spark.operators.changepoint import changepoint_max_cusum

    rows = [("flat", f"2024-02-{d+1:02d} 00:30:00", 2.0) for d in range(5)]
    rows += [("tiny", "2024-02-01 00:00:00", 1.0), ("tiny", "2024-02-02 00:00:00", 9.0)]
    df = spark.createDataFrame(rows, "k string, ts string, value string").select(
        "k", F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    out = {r.k: r for r in changepoint_max_cusum(df, ["k"], "ts", "value").collect()}
    assert set(out) == {"flat"}
    assert str(out["flat"].cp_bucket).startswith("2024-02-01")
    assert out["flat"].d_stat == 0


# -- round-7b: transition matrix, robust MAD, triangles --------------------------


def test_transition_matrix_counts_and_probs(spark):
    from whisper_pandas_spark.operators.paths import transition_matrix

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "user long, seq long, state string").select(
        "user", F.col("seq").cast("timestamp").alias("ts"), "state",
        F.col("seq").alias("eid"),
    )
    out = {(r.src, r.dst): r for r in transition_matrix(
        df, "user", "ts", "state", tiebreak_col="eid").collect()}
    assert out[("a", "b")].n == 3 and out[("a", "b")].n_src == 3
    assert out[("a", "b")].p == 1.0
    assert out[("b", "a")].n == 1 and out[("b", "a")].n_src == 1
    assert set(out) == {("a", "b"), ("b", "a")}


def test_transition_matrix_tiebreak_is_total(spark):
    """Equal timestamps must order by the tie-break column, not
    partition luck."""
    from whisper_pandas_spark.operators.paths import transition_matrix

    rows = [(1, 0, 2, "y"), (1, 0, 1, "x"), (1, 0, 3, "z")]
    df = spark.createDataFrame(
        rows, "user long, t long, eid long, state string"
    ).select("user", F.col("t").cast("timestamp").alias("ts"), "eid", "state")
    out = sorted(
        (r.src, r.dst)
        for r in transition_matrix(df, "user", "ts", "state", tiebreak_col="eid").collect()
    )
    assert out == [("x", "y"), ("y", "z")]


def test_robust_mad_planted_outlier(spark):
    """Median/MAD shrug off the huge point the z-score would absorb."""
    from whisper_pandas_spark.operators.robust import robust_mad_stats

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], "k string, value double")
    r = robust_mad_stats(df, ["k"], "value", scale=1000, k=3).collect()[0]
    # sorted micro: 10000..14000, 1000000; n=6 -> ceil(3) -> 3rd = 12000
    assert r.n == 6 and r.med_micro == 12000
    # deviations: 2000,1000,0,1000,2000,988000 -> sorted 0,1000,1000,2000,2000,988000 -> 3rd = 1000
    assert r.mad_micro == 1000
    # outliers: d > 3000 -> only the planted 1000.0
    assert r.n_outliers == 1


def test_triangle_participation_planted(spark):
    """K4 plus a pendant edge: each K4 node sits in C(3,2)=3 triangles,
    the pendant in none; duplicate/reversed edges collapse."""
    from whisper_pandas_spark.operators.graph import triangle_participation

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(b, a) for a, b in k4] + [(4, 5), (1, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.n_tri for r in triangle_participation(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_label_propagation_two_cliques(spark):
    """Two K4s joined by one bridge edge: each clique converges to its
    own min label; determinism holds across runs."""
    from whisper_pandas_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = c1 + c2 + [(4, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(df, iters=3).collect()}
    assert {out[n] for n in (1, 2, 3)} == {1}
    assert {out[n] for n in (11, 12, 13)} == {10}
    out2 = {r.node: r.label for r in label_propagation(df, iters=3).collect()}
    assert out == out2


def test_label_propagation_isolated_and_zero_iters(spark):
    """Self-loops are dropped (their node becomes isolated if nothing
    else references it -> keeps its own label); iters=0 returns the
    identity labeling."""
    from whisper_pandas_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2), (3, 3)], "src long, dst long")
    out0 = {r.node: r.label for r in label_propagation(df, iters=0).collect()}
    assert out0 == {1: 1, 2: 2}
    # synchronous updates on a single edge OSCILLATE (the documented
    # bipartite behavior): one round swaps, two rounds swap back
    out1 = {r.node: r.label for r in label_propagation(df, iters=1).collect()}
    assert out1 == {1: 2, 2: 1}
    out2 = {r.node: r.label for r in label_propagation(df, iters=2).collect()}
    assert out2 == {1: 1, 2: 2}


def test_equidepth_bins_balanced_and_exact_edges(spark):
    """1..100 into 4 bins -> exactly 25 rows each with the documented
    edge picks; duplicates of one value land in one bucket."""
    from whisper_pandas_spark.operators.binning import equidepth_bins

    df = spark.createDataFrame([("g", v) for v in range(1, 101)], "k string, v long")
    out = equidepth_bins(df, ["k"], "v", 4).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).orderBy("bucket").collect()
    assert [(r.bucket, r.n, r.lo, r.hi) for r in out] == [
        (1, 25, 1, 25), (2, 25, 26, 50), (3, 25, 51, 75), (4, 25, 76, 100)
    ]
    # heavy duplicate mass: value 7 x10 stays in ONE bucket
    df2 = spark.createDataFrame(
        [("g", 7)] * 10 + [("g", 1), ("g", 99)], "k string, v long"
    )
    out2 = equidepth_bins(df2, ["k"], "v", 3).where(F.col("v") == 7).select(
        "bucket"
    ).distinct().collect()
    assert len(out2) == 1


def test_negative_samples_disjoint_deterministic_k(spark):
    from whisper_pandas_spark.operators.negatives import negative_samples

    inter = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 0), (2, 1)], "u long, it long"
    )
    out = negative_samples(inter, "u", "it", 10, k=3, oversample=4).collect()
    pos = {(1, 3), (1, 4), (2, 0), (2, 1)}
    assert all((r.user, r.item) not in pos for r in out)
    by_user = {}
    for r in out:
        by_user.setdefault(r.user, []).append((r.rnk, r.item))
    assert all(len(v) == 3 and [x[0] for x in sorted(v)] == [1, 2, 3]
               for v in by_user.values())
    # determinism across runs
    out2 = negative_samples(inter, "u", "it", 10, k=3, oversample=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    # per-user items are distinct
    for v in by_user.values():
        items = [x[1] for x in v]
        assert len(set(items)) == len(items)


def test_item_cf_planted_copurchase(spark):
    """Two items always co-bought have sim 1.0 and rank each other
    first; an item sharing only half its baskets scores 1/sqrt(2)."""
    from whisper_pandas_spark.operators.itemcf import item_similarity_topk

    rows = []
    for b in range(10):
        rows += [(b, 1), (b, 2)]
        if b < 5:
            rows.append((b, 3))
    df = spark.createDataFrame(rows, "b long, it long")
    out = {(r.item, r.rnk): r for r in item_similarity_topk(
        df, "b", "it", k=2).collect()}
    top1 = out[(1, 1)]
    assert top1.neighbor == 2 and top1.sim == 1.0 and top1.c_ij == 10
    # sim(1,3) = 5 / sqrt(10*5)
    assert out[(1, 2)].neighbor == 3
    assert out[(1, 2)].sim == 5 / (10 * 5) ** 0.5
    # duplicate (basket, item) rows must not inflate counts
    df2 = df.unionAll(df)
    out2 = {(r.item, r.rnk): (r.neighbor, r.sim) for r in item_similarity_topk(
        df2, "b", "it", k=2).collect()}
    assert out2 == {k: (v.neighbor, v.sim) for k, v in out.items()}


def test_rolling_correlation_perfect_and_anti(spark):
    """x twice-daily-doubled vs y = 2x -> r == 1.0 exactly on every
    full window; y = -x -> r == -1.0; constant y -> NULL (zero
    variance)."""
    from whisper_pandas_spark.operators.decompose import rolling_correlation

    rows = []
    for d in range(10):
        x = float(d + 1)
        rows += [("x", f"2024-05-{d+1:02d} 01:00:00", x),
                 ("y", f"2024-05-{d+1:02d} 02:00:00", 2 * x),
                 ("z", f"2024-05-{d+1:02d} 03:00:00", -x),
                 ("c", f"2024-05-{d+1:02d} 04:00:00", 5.0)]
    df = spark.createDataFrame(rows, "k string, ts string, v string").select(
        "k", F.col("ts").cast("timestamp").alias("ts"),
        F.col("v").cast("double").alias("v"))
    pos = rolling_correlation(df, "k", "ts", "v", "x", "y", window=4).collect()
    assert len(pos) == 7 and all(r.r == 1.0 for r in pos)
    neg = rolling_correlation(df, "k", "ts", "v", "x", "z", window=4).collect()
    assert all(r.r == -1.0 for r in neg)
    nul = rolling_correlation(df, "k", "ts", "v", "x", "c", window=4).collect()
    assert all(r.r is None for r in nul)


def test_point_in_time_join_never_leaks(spark):
    """The PIT composition (scd2_from_log + backward-strict asof) must
    attach the state in effect BEFORE each fact — never the state the
    fact itself created, and first-ever facts drop."""
    from whisper_pandas_spark.operators.asof import asof_join
    from whisper_pandas_spark.operators.scd import scd2_from_log

    rows = [
        (1, "2024-01-01 00:00:00", "browse"),
        (1, "2024-01-02 00:00:00", "buy"),
        (1, "2024-01-03 00:00:00", "browse"),
        (1, "2024-01-04 00:00:00", "buy"),
        (2, "2024-01-01 00:00:00", "buy"),
    ]
    ev = spark.createDataFrame(rows, "u long, ts string, state string").select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "state"
    )
    versions = scd2_from_log(ev, "u", "ts", ["state"])
    right = versions.select(
        F.col("key").alias("u"),
        F.col("valid_from").alias("ts"),
        F.col("state").alias("prev_state"),
    )
    buys = ev.filter(F.col("state") == "buy").select("u", "ts")
    out = asof_join(
        buys, right, on="u", left_ts="ts", right_ts="ts",
        value_cols=("prev_state",), inner=True, allow_exact_matches=False,
    ).select("u", "ts", F.col("prev_state_asof").alias("prev_state")).collect()
    got = {(r.u, str(r.ts)[:10]): r.prev_state for r in out}
    # day-2 buy: state before was browse; day-4 buy: before was browse
    # (the day-2 'buy' version ended at day-3); user 2's first-ever
    # event is the buy -> no prior state -> dropped
    assert got == {
        (1, "2024-01-02"): "browse",
        (1, "2024-01-04"): "browse",
    }


def test_mmr_max_candidates_guard_and_typed_ids(spark):
    """Round-8 guards: (1) mmr_select count-and-raises when fed more
    candidates than max_candidates (exact MMR is k*O(candidates) — the
    raw corpus must not sneak in); (2) the returned id column keeps the
    corpus id type (string doc ids used to crash the hardcoded-long
    schema)."""
    import pytest as _pt

    from whisper_pandas_spark.operators.diversify import mmr_select

    rows = [(f"doc{i}", [1.0 + 0.1 * i, 0.5]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = [1.0, 0.2]

    # string ids round-trip with the corpus type
    out = mmr_select(df, q, k=3, lam=0.5)
    assert dict(out.dtypes)["vec_id"] == "string"
    picked = [r["vec_id"] for r in out.collect()]
    assert len(picked) == 3 and all(p.startswith("doc") for p in picked)

    # guard fires (count-and-raise), and None disables it
    with _pt.raises(ValueError, match="max_candidates"):
        mmr_select(df, q, k=2, max_candidates=3)
    assert mmr_select(df, q, k=2, max_candidates=None).count() == 2


def test_itemcf_max_basket_guard(spark):
    """Round-8 guard: max_basket drops mega-baskets before the
    self-join AND before item counts (consistent cosine over retained
    baskets); recall-only — capped runs never invent pairs; None
    disables; cap < 2 rejected."""
    import pytest as _pt

    from whisper_pandas_spark.operators.itemcf import item_similarity_topk

    rows = [("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "y"), ("b3", "x")]
    # mega-basket with 6 items including x and z
    rows += [("mega", it) for it in ["x", "z", "p", "q", "r", "s"]]
    df = spark.createDataFrame(rows, ["b", "it"])

    capped = item_similarity_topk(df, "b", "it", k=5, max_basket=3)
    got = {(r["item"], r["neighbor"]): r for r in capped.collect()}
    # mega-basket pairs gone entirely
    assert ("x", "z") not in got and ("z", "x") not in got
    # c_i over retained baskets only: x appears in b1,b2,b3 (mega dropped)
    assert got[("x", "y")]["c_i"] == 3 and got[("x", "y")]["c_ij"] == 2
    # uncapped (None) still sees the mega pairs
    full = {
        (r["item"], r["neighbor"])
        for r in item_similarity_topk(
            df, "b", "it", k=10, max_basket=None
        ).collect()
    }
    assert ("x", "z") in full
    # recall-only: every capped pair exists in the uncapped result
    assert set(got) <= full
    with _pt.raises(ValueError, match="max_basket"):
        item_similarity_topk(df, "b", "it", max_basket=1)


def test_negative_samples_id_contract(spark):
    """Round-8 advisory: (1) non-integral item columns are rejected
    eagerly with a pointer to item_dim; (2) out-of-range "dense" ids
    fail in-plan instead of silently never rejecting; (3) item_dim maps
    generated indices to real (string) ids and rejection works on the
    real ids."""
    import pytest as _pt

    from whisper_pandas_spark.operators.negatives import negative_samples

    # (1) string catalog without a dim: eager TypeError
    s = spark.createDataFrame([("u1", "sku-1")], "u string, it string")
    with _pt.raises(TypeError, match="item_dim"):
        negative_samples(s, "u", "it", 10)

    # (2) sparse ids masquerading as dense: in-plan assert fires
    sparse = spark.createDataFrame([("u1", 999)], "u string, it long")
    with _pt.raises(Exception, match="dense"):
        negative_samples(sparse, "u", "it", 10, k=2).collect()

    # (3) dim-mapped string catalog: negatives are REAL catalog ids the
    # user never interacted with
    dim = spark.createDataFrame(
        [(i, f"sku-{i}") for i in range(10)], "item_index long, it string"
    )
    inter = spark.createDataFrame(
        [("u1", f"sku-{i}") for i in range(6)], "u string, it string"
    )
    out = negative_samples(
        inter, "u", "it", 10, k=3, item_dim=dim
    ).collect()
    got = [(r["user"], r["item"], r["rnk"]) for r in out]
    assert len(got) == 3 and [r[2] for r in got] == [1, 2, 3]
    interacted = {f"sku-{i}" for i in range(6)}
    catalog = {f"sku-{i}" for i in range(10)}
    for _, item, _rnk in got:
        assert item in catalog and item not in interacted

    # determinism: same seed -> same picks
    again = negative_samples(inter, "u", "it", 10, k=3, item_dim=dim).collect()
    assert [(r["user"], r["item"], r["rnk"]) for r in again] == got


def test_fuzzy_passjoin_equals_blocked_allpairs(spark):
    """PassJoin candidate generation is LOSSLESS: on a corpus planted
    with near-dups (1-5 edits incl. indels — alignment-shifting),
    fuzzy_pairs_passjoin returns EXACTLY fuzzy_pairs' result, and short
    strings (< k+1 chars, below the pigeonhole's reach) still pair."""
    from whisper_pandas_spark.operators.dedup import (
        fuzzy_pairs,
        fuzzy_pairs_passjoin,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (1, "en", base),
        (2, "en", base.replace("quick", "qwick")),          # 1 sub
        (3, "en", base.replace("jumps over", "jumps far over")),  # indel shift
        (4, "en", base[:-6]),                               # 6-char truncation
        (5, "en", "completely different text with other words here entirely"),
        (6, "de", base),                                    # other block
        (7, "en", "abc"),                                   # short string
        (8, "en", "abcd"),                                  # short, 1 edit away
        (9, "en", "xyz"),                                   # short, far
        (10, "en", "!!!"),                                  # EMPTY normalization
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def snap(out):
        return sorted(
            (r["doc_i"], r["doc_j"], r["edit_dist"]) for r in out.collect()
        )

    blocked = snap(fuzzy_pairs(df, "doc_id", "text", "lang"))
    passj = snap(fuzzy_pairs_passjoin(df, "doc_id", "text", "lang"))
    assert passj == blocked
    got = {(i, j) for i, j, _ in passj}
    assert (1, 2) in got and (1, 3) in got          # sub + indel found
    assert (7, 8) in got and (7, 9) in got          # short-string branch
    assert (7, 10) in got                           # empty-norm doc pairs too
    assert all(i != 6 and j != 6 for i, j in got)   # block respected


def test_quality_temperature_sample(spark):
    """Acceptance replays the exact integer test (Python md5 replay);
    sharper temperature keeps a SUBSET (acceptance shrinks with p for
    quality < 1); quality 1.0 always kept, 0.0 never; bounds raise."""
    import hashlib

    import pytest as _pt

    from whisper_pandas_spark.operators.sampling import (
        quality_temperature_sample,
    )

    rows = [(i, [0.0, 0.25, 0.5, 0.75, 0.9, 1.0][i % 6]) for i in range(600)]
    df = spark.createDataFrame(rows, "k long, q double")

    def py_kept(p):
        out = set()
        for k, q in rows:
            u = int(hashlib.md5(f"0:{k}".encode()).hexdigest()[:8], 16)
            qm = round(q * 1_000_000)
            if u * 10 ** (6 * p) < qm**p * (1 << 32):
                out.add(k)
        return out

    for p in (1, 2, 4):
        got = {r["k"] for r in quality_temperature_sample(df, "k", "q", p).collect()}
        assert got == py_kept(p), p
    k1, k2, k4 = py_kept(1), py_kept(2), py_kept(4)
    assert k4 <= k2 <= k1 and len(k4) < len(k1)
    ones = {k for k, q in rows if q == 1.0}
    zeros = {k for k, q in rows if q == 0.0}
    assert ones <= k4 and not (zeros & k1)
    with _pt.raises(ValueError):
        quality_temperature_sample(df, "k", "q", 5)


def test_holt_winters_matches_python_fold(spark):
    """holt_winters_forecast replays an INDEPENDENT Python fold of the
    Brutlag recursions exactly (level/trend/seasonal/deviation state,
    time-anchored phases, m=3 bands); validation errors raise."""
    import numpy as np
    import pytest as _pt
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.forecast import holt_winters_forecast

    rng = np.random.default_rng(11)
    P, res, n, base = 5, 30, 43, 1_600_000_060  # offset, partial seasons
    vals = np.round(20 + 8 * np.sin(2 * np.pi * np.arange(n) / P)
                    + rng.normal(0, 0.5, n), 3)
    rows = [("m", base + res * i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "metric string, epoch long, value double").select(
        "metric", F.timestamp_seconds("epoch").alias("ts"), "value"
    )
    a, b_, g, m = 0.2, 0.05, 0.3, 2.0
    out = {r["h"]: r for r in holt_winters_forecast(
        df, ("metric",), "ts", "value", P, res, a, b_, g, horizon=7, m=m
    ).collect()}

    ts = [(base // res + i) for i in range(n)]
    l, b = float(vals[0]), 0.0
    s, d = [0.0] * P, [0.0] * P
    for i in range(1, n):
        ph = ts[i] % P
        pred = l + b + s[ph]
        nl = a * (vals[i] - s[ph]) + (1 - a) * (l + b)
        nb = b_ * (nl - l) + (1 - b_) * b
        ns = g * (vals[i] - nl) + (1 - g) * s[ph]
        nd = g * abs(vals[i] - pred) + (1 - g) * d[ph]
        l, b, s[ph], d[ph] = nl, nb, ns, nd
    for h in range(1, 8):
        ph = (ts[-1] + h) % P
        fc = l + h * b + s[ph]
        r = out[h]
        assert abs(r["forecast"] - round(fc, 6)) < 1e-9, h
        assert abs(r["lower"] - round(fc - m * d[ph], 6)) < 1e-9, h
        assert abs(r["upper"] - round(fc + m * d[ph], 6)) < 1e-9, h
    # bands contain the forecast and are symmetric
    assert all(out[h]["lower"] <= out[h]["forecast"] <= out[h]["upper"]
               for h in out)
    with _pt.raises(ValueError):
        holt_winters_forecast(df, ("metric",), "ts", "value", 1, res)
    with _pt.raises(ValueError):
        holt_winters_forecast(df, ("metric",), "ts", "value", P, res, alpha=0.0)


@pytest.mark.parametrize(
    "op",
    [
        lambda df: simhash_arrow(df, "doc_id", "text"),
        lambda df: minhash_signature_arrow(df, "doc_id", "text", 4),
        lambda df: shingle_hashes_arrow(df, "doc_id", "text"),
    ],
    ids=["simhash_arrow", "minhash_signature_arrow", "shingle_hashes_arrow"],
)
def test_arrow_passes_keep_64bit_ids_beside_null_ids(spark, op):
    """A NULL id makes PySpark hand its batch's long id column to pandas
    as float64; every id above 2^53 in that batch must still come back
    exact, and the NULL ids stay NULL. Each list-built partition here
    holds both kinds of id."""
    ids = [None if i % 3 == 2 else 2**60 + 1 + 2 * i for i in range(48)]
    df = spark.createDataFrame([(i, BASE) for i in ids], "doc_id long, text string")
    got = [r["doc_id"] for r in op(df).collect()]
    assert sorted(i for i in got if i is not None) == sorted(
        i for i in ids if i is not None
    )
    assert got.count(None) == ids.count(None)
