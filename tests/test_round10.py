"""Round-10 operator tests: RAG chunking, count-min sketch, multi-source
BFS, per-series autocorrelation."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# -- rag_chunks ---------------------------------------------------------------


def _chunk_rows(spark, texts, size, stride):
    from whisper_pandas_spark.operators.chunking import rag_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return (
        rag_chunks(df, "text", ("doc_id",), size=size, stride=stride)
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )


def test_rag_chunks_single_window_when_short(spark):
    rows = _chunk_rows(spark, ["a b c"], size=5, stride=3)
    assert len(rows) == 1
    r = rows[0]
    assert (r.chunk_idx, r.n_words, r.n_chunk_words, r.chunk_text) == (
        0,
        3,
        3,
        "a b c",
    )


def test_rag_chunks_exact_boundary_one_chunk(spark):
    # exactly `size` words -> one chunk, not a dangling empty second
    rows = _chunk_rows(spark, ["w1 w2 w3 w4 w5"], size=5, stride=3)
    assert [r.chunk_idx for r in rows] == [0]
    assert rows[0].chunk_text == "w1 w2 w3 w4 w5"


def test_rag_chunks_overlap_and_tail(spark):
    words = [f"w{i}" for i in range(8)]
    rows = _chunk_rows(spark, [" ".join(words)], size=5, stride=3)
    # n=8, size=5, stride=3 -> nch = 1 + ceil(3/3) = 2
    assert [(r.chunk_idx, r.n_chunk_words) for r in rows] == [(0, 5), (1, 5)]
    assert rows[0].chunk_text == "w0 w1 w2 w3 w4"
    assert rows[1].chunk_text == "w3 w4 w5 w6 w7"


def test_rag_chunks_short_tail_window(spark):
    words = [f"w{i}" for i in range(9)]
    rows = _chunk_rows(spark, [" ".join(words)], size=5, stride=3)
    # n=9 -> nch = 1 + ceil(4/3) = 3; final window has 3 words
    assert [(r.chunk_idx, r.n_chunk_words) for r in rows] == [
        (0, 5),
        (1, 5),
        (2, 3),
    ]
    assert rows[2].chunk_text == "w6 w7 w8"


def test_rag_chunks_drops_empty_and_whitespace_docs(spark):
    rows = _chunk_rows(spark, ["", "   ", "solo"], size=4, stride=2)
    assert [(r.doc_id, r.chunk_text) for r in rows] == [(2, "solo")]


def test_rag_chunks_exotic_whitespace_tokenization(spark):
    # Tab-leading text must NOT produce an empty first token (trim() only
    # strips 0x20), and vertical tab (\x0B) must be a separator on BOTH
    # engines — the explicit [ \t\n\r\f\x0B]+ class, not \s (ADVICE r10:
    # Java \s includes \x0B, RE2's does not).
    texts = [
        "\ta b",  # leading tab
        "a\x0bb c",  # vertical tab separator
        "a\xa0b",  # NBSP is NOT a separator -> one token
        "\t\x0b \n",  # whitespace-only -> dropped
    ]
    rows = _chunk_rows(spark, texts, size=10, stride=10)
    got = {(r.doc_id, r.n_words, r.chunk_text) for r in rows}
    assert got == {
        (0, 2, "a b"),
        (1, 3, "a b c"),
        (2, 1, "a\xa0b"),
    }


def test_rag_chunks_validation(spark):
    from whisper_pandas_spark.operators.chunking import rag_chunks

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        rag_chunks(df, size=0, stride=1)
    with pytest.raises(ValueError):
        rag_chunks(df, size=4, stride=5)


def test_rag_chunks_full_coverage_property(spark):
    # every word appears in at least one chunk; stride-step reconstruction
    # (first `stride` words of every chunk + the tail of the last) gives
    # back the document, for several (n, size, stride) geometries
    rng = random.Random(100)
    cases = [(1, 4, 2), (4, 4, 2), (5, 4, 2), (17, 6, 4), (23, 8, 8)]
    for n, size, stride in cases:
        words = [f"t{rng.randrange(100)}_{i}" for i in range(n)]
        rows = _chunk_rows(spark, [" ".join(words)], size=size, stride=stride)
        seen = set()
        rebuilt: list[str] = []
        for r in rows:
            ws = r.chunk_text.split(" ")
            assert len(ws) == r.n_chunk_words
            start = r.chunk_idx * stride
            assert ws == words[start : start + size]
            seen.update(range(start, start + len(ws)))
            rebuilt.extend(
                ws[:stride] if r.chunk_idx < rows[-1].chunk_idx else ws
            )
        assert seen == set(range(n))
        # stride-step reconstruction only works when consecutive chunks
        # advance by exactly `stride`
        dedup = []
        for r in rows:
            start = r.chunk_idx * stride
            for j, w in enumerate(r.chunk_text.split(" ")):
                if start + j == len(dedup):
                    dedup.append(w)
        assert dedup == words


# -- count-min sketch ---------------------------------------------------------


def _cms_modules():
    from whisper_pandas_spark.operators.sketches import (
        cms_estimate,
        cms_rollup,
        cms_shard_sketches,
    )

    return cms_shard_sketches, cms_rollup, cms_estimate


def test_cms_never_undercounts(spark):
    build, rollup, estimate = _cms_modules()
    rng = random.Random(7)
    vals = [rng.randrange(50) for _ in range(2000)]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, item long"
    )
    sk = build(df, ("grp",), "item", depth=3, width=16)
    probes = spark.createDataFrame(
        [(v,) for v in range(50)], "item long"
    )
    est = {
        r.item: r.est
        for r in estimate(sk, ("grp",), probes, "item", depth=3, width=16)
        .collect()
    }
    from collections import Counter

    exact = Counter(vals)
    for v in range(50):
        assert est[v] >= exact.get(v, 0)
    # width 16 over 50 items guarantees collisions -> at least one strict
    # overcount (sanity that the test regime is the approximate one)
    assert any(est[v] > exact.get(v, 0) for v in range(50))


def test_cms_rollup_equals_direct_build(spark):
    build, rollup, _ = _cms_modules()
    rng = random.Random(11)
    rows = [
        (f"shard{rng.randrange(4)}", rng.randrange(30))
        for _ in range(1500)
    ]
    df = spark.createDataFrame(rows, "shard string, item long")
    shards = build(df, ("shard",), "item", depth=2, width=8)
    merged = rollup(
        shards.withColumn("shard", F.lit("all")), ("shard",)
    )
    direct = build(
        df.withColumn("shard", F.lit("all")), ("shard",), "item",
        depth=2, width=8,
    )
    m = {(r.row, r.col): r.cnt for r in merged.collect()}
    d = {(r.row, r.col): r.cnt for r in direct.collect()}
    assert m == d


def test_cms_absent_probe_estimates_zero_or_collision(spark):
    build, _, estimate = _cms_modules()
    df = spark.createDataFrame(
        [("g", i) for i in range(4)], "grp string, item long"
    )
    sk = build(df, ("grp",), "item", depth=3, width=1024)
    probes = spark.createDataFrame([(999999,)], "item long")
    rows = estimate(sk, ("grp",), probes, "item", depth=3, width=1024).collect()
    assert len(rows) == 1
    # wide sketch, 4 items: overwhelmingly likely all 3 rows miss -> 0;
    # the law we assert is just the one-sided bound
    assert 0 <= rows[0].est <= 4


def test_cms_validation(spark):
    build, _, _ = _cms_modules()
    df = spark.createDataFrame([("g", 1)], "grp string, item long")
    with pytest.raises(ValueError):
        build(df, ("grp",), "item", depth=0)
    with pytest.raises(ValueError):
        build(df, ("grp",), "item", width=1)


# -- bfs_distances ------------------------------------------------------------


def _bfs(spark, edge_pairs, sources, max_hops):
    from whisper_pandas_spark.operators.graph import bfs_distances

    e = spark.createDataFrame(edge_pairs, "src long, dst long")
    s = spark.createDataFrame([(n,) for n in sources], "node long")
    return {
        r.node: r.dist
        for r in bfs_distances(e, s, max_hops=max_hops).collect()
    }


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_bfs_path_graph(spark):
    edges = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    assert _bfs(spark, edges, [1], 2) == {1: 0, 2: 1, 3: 2}
    assert _bfs(spark, edges, [1], 0) == {1: 0}


def test_bfs_multi_source_takes_min(spark):
    edges = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    got = _bfs(spark, edges, [1, 5], 2)
    assert got == {1: 0, 2: 1, 3: 2, 5: 0, 4: 1}


def test_bfs_disconnected_component_absent(spark):
    edges = _sym([(1, 2), (10, 11)])
    got = _bfs(spark, edges, [1], 4)
    assert got == {1: 0, 2: 1}


def test_bfs_source_not_in_graph_still_reported(spark):
    edges = _sym([(1, 2)])
    got = _bfs(spark, edges, [99], 3)
    assert got == {99: 0}


def test_bfs_prepared_matches_default(spark):
    """prepared=True (caller pre-dedups/materializes the edge list and
    the internal distinct+persist is skipped) must be result-identical
    to the default path — the round-15 query shape dedups the directed
    list and symmetrizes via two reads of a checkpoint."""
    from whisper_pandas_spark.operators.graph import bfs_distances

    pairs = [(1, 2), (2, 3), (1, 2), (3, 4), (2, 3), (4, 5)]
    edges = spark.createDataFrame(
        _sym(pairs), "src long, dst long"
    )
    s = spark.createDataFrame([(1,)], "node long")
    default = {
        r.node: r.dist for r in bfs_distances(edges, s, max_hops=3).collect()
    }
    directed = (
        spark.createDataFrame(pairs, "src long, dst long")
        .distinct()
        .localCheckpoint(eager=True)
    )
    import pyspark.sql.functions as F

    sym = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    prepped = {
        r.node: r.dist
        for r in bfs_distances(sym, s, max_hops=3, prepared=True).collect()
    }
    assert prepped == default == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_validation(spark):
    from whisper_pandas_spark.operators.graph import bfs_distances

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError):
        bfs_distances(e, s, max_hops=-1)


def test_bfs_matches_python_reference_on_random_graph(spark):
    rng = random.Random(42)
    n = 40
    pairs = list(
        {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(90)
        }
    )
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = _sym(pairs)
    sources = [0, 1]
    hops = 4
    # plain python BFS truncated at `hops`
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for d in range(1, hops + 1):
        nxt = set()
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.add(v)
        frontier = nxt
    assert _bfs(spark, edges, sources, hops) == dist


# -- autocorrelation ----------------------------------------------------------


def _acf(spark, rows, max_lag=2, scale=1000):
    from whisper_pandas_spark.operators.decompose import autocorrelation

    df = spark.createDataFrame(
        rows, "series string, ts timestamp, value double"
    )
    return {
        (r.series, r.lag): r
        for r in autocorrelation(
            df, "series", "ts", "value", bucket="day", max_lag=max_lag,
            scale=scale,
        ).collect()
    }


def _days(vals, series="m"):
    # epoch arithmetic, never day-of-month interpolation (a 40-element
    # series would otherwise build the invalid date 2024-03-41)
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1, 10, 30)
    return [
        (series, base + timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]


def test_acf_constant_series_null_r(spark):
    got = _acf(spark, _days([5.0] * 10))
    assert got[("m", 1)].r is None
    assert got[("m", 1)].n_pairs == 9


def test_acf_alternating_series_lag1_negative(spark):
    got = _acf(spark, _days([1.0, -1.0] * 8), max_lag=2)
    assert got[("m", 1)].r == pytest.approx(-1.0)
    assert got[("m", 2)].r == pytest.approx(1.0)


def test_acf_gap_pairs_only_adjacent_days(spark):
    from datetime import datetime

    rows = [
        ("m", datetime(2024, 3, 1), 1.0),
        ("m", datetime(2024, 3, 2), 2.0),
        # gap: no 2024-03-03
        ("m", datetime(2024, 3, 4), 3.0),
        ("m", datetime(2024, 3, 5), 4.0),
    ]
    got = _acf(spark, rows, max_lag=1)
    assert got[("m", 1)].n_pairs == 2  # (1->2) and (4->5) only


def test_acf_matches_numpy_on_random_series(spark):
    import numpy as np

    rng = random.Random(5)
    vals = [round(rng.uniform(-10, 10), 3) for _ in range(40)]
    got = _acf(spark, _days(vals), max_lag=3)
    # micro-unit quantization at scale=1000 is exact for 3-decimal values
    arr = np.array(vals)
    for k in (1, 2, 3):
        expect = np.corrcoef(arr[:-k], arr[k:])[0, 1]
        assert got[("m", k)].r == pytest.approx(expect, abs=1e-9)
        assert got[("m", k)].n_pairs == 40 - k


def test_acf_validation(spark):
    from whisper_pandas_spark.operators.decompose import autocorrelation

    df = spark.createDataFrame(
        [("m", None, 1.0)], "series string, ts timestamp, value double"
    )
    with pytest.raises(ValueError):
        autocorrelation(df, "series", "ts", "value", max_lag=0)
    with pytest.raises(ValueError):
        autocorrelation(df, "series", "ts", "value", bucket="minute")


# -- kcore --------------------------------------------------------------------


def _kcore(spark, edge_pairs, k, rounds=6):
    from whisper_pandas_spark.operators.graph import kcore

    e = spark.createDataFrame(edge_pairs, "src long, dst long")
    return {r.node: r.deg for r in kcore(e, k=k, max_rounds=rounds).collect()}


def test_kcore_triangle_with_pendant(spark):
    # triangle 1-2-3 plus pendant 3-4: 2-core = the triangle
    edges = _sym([(1, 2), (2, 3), (1, 3), (3, 4)])
    assert _kcore(spark, edges, 2) == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    # path 1-2-3-4-5: every node eventually drops below 2 — empty 2-core,
    # but only after cascading rounds (ends first, then middles)
    edges = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    assert _kcore(spark, edges, 2) == {}


def test_kcore_k1_keeps_every_non_isolated_node(spark):
    edges = _sym([(1, 2), (3, 4)])
    assert _kcore(spark, edges, 1) == {1: 1, 2: 1, 3: 1, 4: 1}


def test_kcore_self_loops_ignored(spark):
    edges = _sym([(1, 2), (2, 3), (1, 3)]) + [(1, 1), (9, 9)]
    assert _kcore(spark, edges, 2) == {1: 2, 2: 2, 3: 2}


def test_kcore_early_stop_equals_full_budget(spark):
    rng = random.Random(3)
    pairs = list({(rng.randrange(20), rng.randrange(20)) for _ in range(60)})
    edges = _sym([(a, b) for a, b in pairs if a != b])
    # converged output is a fixpoint: more rounds never change it
    assert _kcore(spark, edges, 3, rounds=3) == _kcore(spark, edges, 3, rounds=10)


def test_kcore_matches_python_reference(spark):
    rng = random.Random(17)
    pairs = list({(rng.randrange(25), rng.randrange(25)) for _ in range(120)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = _sym(pairs)
    k = 4
    # python peeling to fixpoint
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < k}
        if not drop:
            break
        alive -= drop
    expect = {u: len(adj[u] & alive) for u in alive}
    assert _kcore(spark, edges, k, rounds=30) == expect


def test_kcore_validation(spark):
    from whisper_pandas_spark.operators.graph import kcore

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        kcore(e, k=0)
    with pytest.raises(ValueError):
        kcore(e, k=2, max_rounds=0)


# -- streaming CMS ------------------------------------------------------------


def test_stream_cms_state_equals_direct_build(spark, tmp_path):
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import cms_shard_sketches
    from whisper_pandas_spark.streaming.sketches import stream_cms_update

    rng = random.Random(23)
    rows = [("all", i, rng.randrange(40)) for i in range(600)]
    df = spark.createDataFrame(rows, "scope string, seq long, item long")
    d = str(tmp_path / "cms")
    df.filter(F.col("seq") % 2 == 0).coalesce(1).write.parquet(
        f"{d}/changes/f1"
    )
    df.filter(F.col("seq") % 2 == 1).coalesce(1).write.parquet(
        f"{d}/changes/f2"
    )
    sdf = (
        spark.readStream.schema("scope string, seq long, item long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/changes/*")
    )
    q = stream_cms_update(
        sdf, f"{d}/state", ("scope",), "item", depth=2, width=16,
        checkpoint_dir=f"{d}/ckpt",
    )
    q.processAllAvailable()
    q.stop()
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    direct = cms_shard_sketches(df, ("scope",), "item", depth=2, width=16)
    s = {(r.row, r.col): r.cnt for r in state.collect()}
    dd = {(r.row, r.col): r.cnt for r in direct.collect()}
    assert s == dd


def test_stream_cms_requires_checkpoint(spark):
    from whisper_pandas_spark.streaming.sketches import stream_cms_update

    sdf = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        stream_cms_update(sdf, "/tmp/x", ("scope",), "value",
                          checkpoint_dir="")


def test_stream_cms_replayed_batch_not_double_counted(spark, tmp_path):
    # simulate an at-least-once replay by calling the foreachBatch body
    # twice with the same batch id via a restarted stream over the same
    # checkpoint: state version must not double
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_cms_update

    rows = [("all", i, i % 10) for i in range(100)]
    df = spark.createDataFrame(rows, "scope string, seq long, item long")
    d = str(tmp_path / "cms2")
    df.coalesce(1).write.parquet(f"{d}/changes/f1")
    for _ in range(2):  # second start replays from the same checkpoint
        sdf = (
            spark.readStream.schema("scope string, seq long, item long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/changes/*")
        )
        q = stream_cms_update(
            sdf, f"{d}/state", ("scope",), "item", depth=2, width=8,
            checkpoint_dir=f"{d}/ckpt",
        )
        q.processAllAvailable()
        q.stop()
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    total = sum(r.cnt for r in state.collect()) / 2  # depth 2 rows
    assert total == 100  # not 200


# -- gaps and islands ---------------------------------------------------------


def test_gaps_islands_basic(spark):
    from datetime import datetime, timedelta

    base = datetime(2024, 5, 1, 9, 0)
    # user 1: days 0,1,2 then 5,6 -> streaks 3 and 2
    # user 2: one day
    rows = [(1, base + timedelta(days=d)) for d in (0, 1, 2, 5, 6)] + [
        (2, base),
        (1, base + timedelta(days=1, hours=3)),  # same day, extra event
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df = df.withColumn("value", F.lit(1.0)).withColumn(
        "event_type", F.lit("x")
    )
    from pyspark.sql.window import Window

    # run the registry entry's logic inline on a temp dir is awkward;
    # replicate via the same operators the entry uses
    days = df.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "g", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("start")
    )
    got = {
        (r.user_id, str(r.start)): r.len for r in streaks.collect()
    }
    assert got == {
        (1, "2024-05-01"): 3,
        (1, "2024-05-06"): 2,
        (2, "2024-05-01"): 1,
    }


# -- RAKE ---------------------------------------------------------------------


def _rake(spark, texts, top_n=25):
    from whisper_pandas_spark.operators.rake import rake_keywords

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return rake_keywords(df, top_n=top_n).collect()


def test_rake_hand_example(spark):
    # stopwords: the a of and to in is on for it
    rows = _rake(spark, ["the quick brown fox and a lazy dog in the sun"])
    got = {r.phrase: (r.n_words, r.occurrences, r.score) for r in rows}
    # islands: [quick brown fox] [lazy dog] [sun]
    # deg/freq: quick 3/1 brown 3/1 fox 3/1 lazy 2/1 dog 2/1 sun 1/1
    assert got == {
        "quick brown fox": (3, 1, 9.0),
        "lazy dog": (2, 1, 4.0),
        "sun": (1, 1, 1.0),
    }
    # ranking: highest score first
    assert rows[0].phrase == "quick brown fox"


def test_rake_shared_word_across_phrases(spark):
    rows = _rake(spark, ["spark jobs and spark tasks"])
    got = {r.phrase: r.score for r in rows}
    # freq: spark 2, jobs 1, tasks 1; deg: spark 4, jobs 2, tasks 2
    assert got == {"spark jobs": 4.0, "spark tasks": 4.0}


def test_rake_long_island_discarded_entirely(spark):
    rows = _rake(spark, ["alpha beta gamma delta and short run"])
    got = {r.phrase for r in rows}
    # 4-word island contributes nothing (neither phrase nor word stats)
    assert got == {"short run"}
    # and 'short run' stats are unpolluted by the dropped island
    sr = [r for r in rows if r.phrase == "short run"][0]
    assert sr.score == 4.0


def test_rake_punctuation_delimits(spark):
    # tokenize() maps non-alnum to spaces, so punctuation acts as a
    # stopword-like delimiter only via stopwords; commas just vanish —
    # this pins that 'x, y' still forms one island (RAKE variants that
    # split on punctuation would need the raw-text islands)
    rows = _rake(spark, ["data, pipelines"])
    assert {r.phrase for r in rows} == {"data pipelines"}


def test_rake_matches_python_reference(spark):
    from fractions import Fraction

    from whisper_pandas_spark.operators.textstats import STOPWORDS

    rng = random.Random(31)
    vocab = ["alpha", "beta", "gamma", "delta", "and", "the", "run", "it"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 25)))
        for _ in range(12)
    ]
    stops = set(STOPWORDS)
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    occs: dict[str, int] = {}
    for t in texts:
        toks = [w for w in t.split() if w]
        islands: list[list[str]] = [[]]
        for w in toks:
            if w in stops:
                if islands[-1]:
                    islands.append([])
            else:
                islands[-1].append(w)
        for isl in islands:
            if not isl or len(isl) > 3:
                continue
            occs[" ".join(isl)] = occs.get(" ".join(isl), 0) + 1
            for w in isl:
                freq[w] = freq.get(w, 0) + 1
                deg[w] = deg.get(w, 0) + len(isl)
    expect = {
        p: sum(Fraction(deg[w], freq[w]) for w in p.split())
        for p in occs
    }
    rows = _rake(spark, texts, top_n=1000)
    got = {r.phrase: (r.occurrences, r.score) for r in rows}
    assert set(got) == set(expect)
    for p, fr in expect.items():
        assert got[p][0] == occs[p]
        assert got[p][1] == pytest.approx(float(fr), rel=1e-12)


def test_rake_validation(spark):
    from whisper_pandas_spark.operators.rake import rake_keywords

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        rake_keywords(df, max_phrase_len=4)
    with pytest.raises(ValueError):
        rake_keywords(df, max_phrase_len=0)


# -- Benford ------------------------------------------------------------------


def test_benford_digit_extraction_and_shares(spark, sf_dir):
    import math

    from whisper_pandas_spark.queries_pipeline import profile_benford

    rows = profile_benford(spark, sf_dir).collect()
    assert [r.digit for r in rows] == sorted({r.digit for r in rows})
    assert all(1 <= r.digit <= 9 for r in rows)
    total = sum(r.n for r in rows)
    for r in rows:
        assert r.observed == pytest.approx(r.n / total)
        assert r.expected == pytest.approx(math.log10(1 + 1 / r.digit))
    assert sum(r.observed for r in rows) == pytest.approx(1.0)
