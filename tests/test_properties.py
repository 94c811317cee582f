"""Property-based tests (hypothesis): randomized coverage the reference's
golden-value suite lacks (SURVEY.md §5 — "no property-based testing").

Spark actions are slow per example, so examples are capped and data kept
tiny; the PROPERTIES (round-trip exactness, rollup algebra) are what the
random geometry explores."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent))
from wsp_fixtures import build_wsp  # noqa: E402

from whisper_pandas_spark.operators.rollup import rollup  # noqa: E402

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

archive_geometry = st.lists(
    st.tuples(
        st.sampled_from([5, 10, 60, 300]),        # seconds_per_point
        st.integers(min_value=4, max_value=200),  # points
        st.floats(min_value=0.1, max_value=1.0),  # fill ratio
    ),
    min_size=1,
    max_size=3,
)


@SLOW
@given(archives=archive_geometry, agg=st.sampled_from(["average", "sum", "last"]))
def test_whisper_roundtrip_exact(spark, tmp_path_factory, archives, agg):
    """Whatever geometry we write, the distributed scan returns EXACTLY the
    filled points (timestamps and float64 values bit-for-bit), per archive."""
    from whisper_pandas_spark.sources.whisper import register_whisper

    register_whisper(spark)
    path = str(tmp_path_factory.mktemp("prop") / "p.wsp")
    synth = build_wsp(path, aggregation=agg, archives=archives)

    df = spark.read.format("whisper").load(path)
    rows = df.collect()
    by_archive: dict[int, list] = {}
    for r in rows:
        by_archive.setdefault(r["archive"], []).append(r)

    for i, arch in enumerate(synth):
        got = sorted(
            ((r["timestamp"].timestamp(), r["value"]) for r in by_archive.get(i, [])),
        )
        want = sorted((float(t), float(v)) for t, v in arch.filled)
        assert len(got) == len(want)
        assert [g[0] for g in got] == [w[0] for w in want]
        np.testing.assert_array_equal(
            np.array([g[1] for g in got]), np.array([w[1] for w in want])
        )


points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=599),  # offset seconds within 10 min
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=60,
)


@SLOW
@given(pts=points_strategy)
def test_rollup_sum_max_min_algebra(spark, pts):
    """rollup() must agree with a direct numpy group-by for sum/max/min on
    arbitrary points (dedup epoch seconds: whisper slots are unique)."""
    base = 1_600_000_000
    seen: dict[int, float] = {}
    for off, v in pts:
        seen[base + off] = v  # last write wins per second (slot semantics)
    df = spark.createDataFrame(
        [("m", t, v) for t, v in seen.items()], ["metric", "epoch", "value"]
    ).selectExpr("metric", "timestamp_seconds(epoch) AS timestamp", "value")

    out = {
        (r["bucket"].timestamp(), ): (r["value"], r["n_points"])
        for r in rollup(df, 60, "sum", ts_col="timestamp").collect()
    }
    want: dict[tuple, list] = {}
    for t, v in seen.items():
        want.setdefault((float(t // 60 * 60),), []).append(v)
    assert set(out) == set(want)
    for k, vs in want.items():
        assert out[k][1] == len(vs)
        assert out[k][0] == pytest.approx(sum(vs), rel=1e-12, abs=1e-9)


write_points = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1999),  # offset seconds
        st.floats(min_value=-1e6, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=80,
)


@settings(max_examples=25, deadline=None)
@given(pts=write_points)
def test_writer_finest_archive_roundtrip(pts):
    """build_wsp_bytes: the finest archive holds exactly the slot-aligned
    last-write-wins image of the input, for arbitrary point sets."""
    import numpy as np

    from whisper_pandas_spark.sources.whisper_write import build_wsp_bytes

    base = 1_599_999_960
    ts = [base + off for off, _ in pts]
    vals = [v for _, v in pts]
    buf = build_wsp_bytes(ts, vals, [(10, 200)], "average")

    # expected: last write per aligned slot (input order breaks ts ties)
    expect: dict[int, float] = {}
    for t, v in sorted(zip(ts, vals), key=lambda x: x[0]):
        expect[t // 10 * 10] = v
    newest = max(ts)
    expect = {t: v for t, v in expect.items() if t > newest - 2000}

    arr = np.frombuffer(buf, dtype=[("ts", ">u4"), ("val", ">f8")], offset=28)
    got = {int(r["ts"]): float(r["val"]) for r in arr[arr["ts"] != 0]}
    assert got == expect


@SLOW
@given(
    n_points=st.integers(min_value=2, max_value=60),
    split=st.floats(min_value=0.1, max_value=0.9),
    dup_every=st.integers(min_value=2, max_value=7),
    agg=st.sampled_from(["average", "sum", "last", "max"]),
)
def test_merge_write_equals_one_shot(n_points, split, dup_every, agg):
    """Splitting a time-ordered point stream into two merge-mode writes
    must produce byte-identical output to one single write — the property
    the streaming sink relies on. Spans stay inside the fine retention
    window (expiry semantics are tested separately)."""
    from whisper_pandas_spark.sources.whisper_write import build_wsp_bytes

    base = 1_600_000_000
    layout = [(10, 400), (60, 80)]  # retention 4000 s >> span
    ts, vals = [], []
    for i in range(n_points):
        t = base + 7 * i  # 7 s stride -> frequent same-slot collisions
        ts.append(t)
        vals.append(float(i))
        if i % dup_every == 0:  # planted same-slot duplicate
            ts.append(t + 1)
            vals.append(float(100 + i))
    order = sorted(range(len(ts)), key=lambda j: ts[j])
    ts = [ts[j] for j in order]
    vals = [vals[j] for j in order]

    cut = max(1, min(len(ts) - 1, int(len(ts) * split)))
    one_shot = build_wsp_bytes(ts, vals, layout, agg, 0.1)
    first = build_wsp_bytes(ts[:cut], vals[:cut], layout, agg, 0.1)
    merged = build_wsp_bytes(
        ts[cut:], vals[cut:], layout, agg, 0.1, existing=first
    )
    assert merged == one_shot


@SLOW
@given(
    n_left=st.integers(min_value=1, max_value=60),
    n_right=st.integers(min_value=1, max_value=60),
    n_keys=st.integers(min_value=1, max_value=4),
    span=st.integers(min_value=10, max_value=5000),
    bucket=st.sampled_from([None, 7, 100]),
    allow_exact=st.booleans(),
    data=st.data(),
)
def test_asof_join_matches_pandas_merge_asof(
    spark, n_left, n_right, n_keys, span, bucket, allow_exact, data
):
    """asof_join (both the sequential and the skew-immune bucketed plan)
    must agree with pd.merge_asof(direction='backward') — the reference
    semantics it claims — on random keys/timestamps, including exact-tie
    timestamps and keys with no preceding right row."""
    import pandas as pd

    from whisper_pandas_spark.operators.asof import asof_join

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    # distinct right-side (key, ts): duplicate (key, ts) is documented
    # unspecified-tie territory, so the property avoids it
    lk = rng.integers(0, n_keys, n_left)
    lt = rng.integers(0, span, n_left)
    rk = rng.integers(0, n_keys, n_right)
    rt = rng.integers(0, span, n_right)
    right_pairs = {(int(k), int(t)): float(rng.normal()) for k, t in zip(rk, rt)}

    left = spark.createDataFrame(
        [(int(k), int(t)) for k, t in zip(lk, lt)], "key long, ts long"
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in right_pairs.items()],
        "key long, ts long, value double",
    )
    got = asof_join(
        left, right, on="key", left_ts="ts", right_ts="ts",
        time_bucket_seconds=bucket, allow_exact_matches=allow_exact,
    ).collect()

    lpd = pd.DataFrame({"key": lk.astype("int64"), "ts": lt.astype("int64")})
    rpd = pd.DataFrame(
        [(k, t, v) for (k, t), v in right_pairs.items()],
        columns=["key", "ts", "value"],
    ).sort_values("ts")
    want = pd.merge_asof(
        lpd.sort_values("ts"), rpd, on="ts", by="key", direction="backward",
        allow_exact_matches=allow_exact,
    ).dropna(subset=["value"])

    got_set = sorted((r["key"], r["ts"], r["value_asof"]) for r in got)
    want_set = sorted(
        (int(r.key), int(r.ts), float(r.value)) for r in want.itertuples()
    )
    assert got_set == want_set


@SLOW
@given(
    n_docs=st.integers(min_value=2, max_value=6),
    doc_len=st.integers(min_value=3, max_value=25),
    vocab=st.integers(min_value=2, max_value=5),
    data=st.data(),
)
def test_substring_spans_match_bruteforce(spark, n_docs, doc_len, vocab, data):
    """substring_span_pairs must equal a brute-force longest-common-run
    scan over every doc pair, on random small-vocabulary token streams
    (small vocab => plenty of accidental shared runs and multi-diagonal
    repeats, the hard cases for the islands logic)."""
    from whisper_pandas_spark.operators.dedup import substring_span_pairs

    k, min_run = 2, 3
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    words = [f"w{c}" for c in range(vocab)]
    docs = {
        d: [words[i] for i in rng.integers(0, vocab, doc_len)]
        for d in range(n_docs)
    }
    df = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs.items()], ["doc_id", "text"]
    )
    got = {
        (r["doc_i"], r["doc_j"]): r["max_run"]
        for r in substring_span_pairs(
            df, "doc_id", "text", k=k, min_run=min_run, max_df=None
        ).collect()
    }

    def longest_run(a, b):
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                r = 0
                while i + r < len(a) and j + r < len(b) and a[i + r] == b[j + r]:
                    r += 1
                best = max(best, r)
        return best

    want = {}
    for i in range(n_docs):
        for j in range(i + 1, n_docs):
            lr = longest_run(docs[i], docs[j])
            if lr >= min_run:
                want[(i, j)] = lr
    assert got == want


@SLOW
@given(
    n_vecs=st.integers(min_value=1, max_value=12),
    dim=st.integers(min_value=2, max_value=16),
    n_tables=st.integers(min_value=1, max_value=4),
    n_planes=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
def test_multi_table_buckets_bit_equal_expression(
    spark, n_vecs, dim, n_tables, n_planes, data
):
    """The Arrow bucket stage's dim-sequential numpy fold must equal the
    interpreted lsh_bucket expression BIT-FOR-BIT on random float32
    vectors at random geometries (the claim that justifies swapping the
    expression path out)."""
    from whisper_pandas_spark.operators.similarity import (
        _hyperplane,
        lsh_bucket,
        multi_table_buckets,
    )
    from pyspark.sql import functions as F2

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    vecs = rng.normal(scale=2.0, size=(n_vecs, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n_vecs)],
        "vec_id long, embedding array<float>",
    )
    table_planes = [
        (t, [_hyperplane(t, p, dim) for p in range(n_planes)])
        for t in range(n_tables)
    ]
    expr = {}
    for t, planes in table_planes:
        for r in df.select(
            "vec_id", lsh_bucket(F2.col("embedding"), planes).alias("b")
        ).collect():
            expr[(r["vec_id"], t)] = r["b"]
    arrow = {
        (r["vec_id"], r["t"]): r["bucket"]
        for r in multi_table_buckets(
            df, "vec_id", "embedding", "vec_id", "vec", table_planes
        ).collect()
    }
    assert arrow == expr


@SLOW
@given(
    n_docs=st.integers(min_value=1, max_value=8),
    vocab=st.integers(min_value=2, max_value=5),
    data=st.data(),
)
def test_bm25_matches_bruteforce_scorer(spark, n_docs, vocab, data):
    """bm25_topk must equal a direct Python implementation of the
    Robertson/Lucene formula on random small corpora — including
    REPEATED query terms (deduped: the implementation treats the query
    as a set) and docs with no alphanumerics (tokenize yields [''], so
    dl == 1 on both sides)."""
    import math
    import re

    from whisper_pandas_spark.operators.textrank import B, K1, bm25_topk

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    words = [f"w{c}" for c in range(vocab)]
    texts = []
    for d in range(n_docs):
        if rng.random() < 0.15:
            texts.append("!!! ??? ...")  # no alphanumerics -> empty token
        else:
            n = int(rng.integers(1, 20))
            texts.append(" ".join(words[i] for i in rng.integers(0, vocab, n)))
    # query: sampled WITH repeats, plus sometimes a term absent from the
    # corpus entirely
    q = data.draw(
        st.lists(st.sampled_from(words + ["zzz"]), min_size=1, max_size=6)
    )

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = bm25_topk(df, q, topk=n_docs + 1).collect()

    def toks(text):
        return re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")

    tokenized = {d: toks(t) for d, t in enumerate(texts)}
    n = len(tokenized)
    avgdl = sum(len(t) for t in tokenized.values()) / n
    qset = sorted(set(q))
    dfreq = {
        t: sum(1 for tk in tokenized.values() if t in tk) for t in qset
    }
    want = {}
    for d, tk in tokenized.items():
        score, n_terms = 0.0, 0
        for t in qset:
            tf = tk.count(t)
            if tf == 0:
                continue
            n_terms += 1
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            score += idf * tf * (K1 + 1) / (
                tf + K1 * (1 - B + B * len(tk) / avgdl)
            )
        if n_terms:
            want[d] = (n_terms, round(score, 6))

    assert {r["doc_id"] for r in got} == set(want)
    for r in got:
        w_terms, w_score = want[r["doc_id"]]
        assert r["n_terms"] == w_terms
        assert abs(r["score"] - w_score) <= 2e-6, (r, want[r["doc_id"]])
    # rnk must be 1..k in (score desc, doc_id asc) order of the RETURNED rows
    ranked = sorted(got, key=lambda r: (-r["score"], r["doc_id"]))
    assert [r["rnk"] for r in ranked] == list(range(1, len(got) + 1))


# -- codecs (round 5): pure-Python, fast — higher example counts ----------

_img_strategy = st.tuples(
    st.integers(min_value=1, max_value=12),        # h
    st.integers(min_value=1, max_value=12),        # w
    st.sampled_from([1, 2, 3, 4]),                 # channels
    st.integers(min_value=0, max_value=2**32 - 1), # pixel seed
)


@settings(max_examples=40, deadline=None)
@given(_img_strategy)
def test_png_roundtrip_property(geom):
    """encode_png → decode_image is the identity for every 8-bit
    geometry/channel count (the decoder also exercises the filter-0
    path's stride handling at odd widths)."""
    from whisper_pandas_spark.functions.codecs import decode_image, encode_png

    h, w, c, seed = geom
    img = np.random.default_rng(seed).integers(0, 256, size=(h, w, c), dtype=np.uint8)
    dh, dw, dc, out = decode_image(encode_png(img))
    assert (dh, dw, dc) == (h, w, c)
    assert (out == img).all()


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=400),
    st.sampled_from([1, 2]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_property(n, channels, seed):
    from whisper_pandas_spark.functions.codecs import decode_wav, encode_wav

    s = (
        np.random.default_rng(seed)
        .integers(-32768, 32768, size=(n, channels))
        .astype(np.int16)
    )
    rate, ch, out = decode_wav(encode_wav(s, 22050))
    assert (rate, ch) == (22050, channels)
    assert (out == s).all()


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from(
        [
            b"",
            b"\x89PNG\r\n\x1a\n",
            b"BM",
            b"P5 ",
            b"P6\n",
            b"RIFF",
            b"\xff\xd8\xff",
            b"GIF89a",
            b"GIF87a",
        ]
    ),
    st.binary(max_size=400),
)
def test_codec_fuzz_never_crashes_unexpectedly(prefix, data):
    """Arbitrary bytes — including each codec's magic prefix, so every
    decoder branch (PNG/BMP/PNM/JPEG/GIF/WAV) gets fuzzed past its
    dispatch check — must yield a decoded result or CodecError; never
    any other exception (the tolerant Arrow passes rely on this contract
    to skip rows safely)."""
    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_image,
        decode_wav,
    )

    for fn in (decode_image, decode_wav):
        try:
            fn(prefix + data)
        except (CodecError, NotImplementedError):
            pass


# -- mixture_sample: two-phase == naive greedy on random corpora -----------

mix_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),          # key
        st.sampled_from(["a", "b", "c"]),                    # domain
        st.integers(min_value=0, max_value=40),              # weight
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda r: r[0],
)
mix_quotas = st.fixed_dictionaries(
    {
        "a": st.integers(min_value=0, max_value=400),
        "b": st.integers(min_value=0, max_value=60),
    }
)


@SLOW
@given(rows=mix_rows, quotas=mix_quotas, bits=st.sampled_from([0, 2, 11]))
def test_mixture_two_phase_equals_naive_property(spark, rows, quotas, bits):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.sampling import (
        hash_bucket,
        mixture_sample,
    )

    df = spark.createDataFrame(rows, "k long, dom string, wt long")
    got = mixture_sample(
        df, "dom", quotas, weight_col="wt", key_col="k", coarse_bits=bits
    )
    w = (
        Window.partitionBy("dom")
        .orderBy(hash_bucket(F.col("k")), "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    q = F.when(F.col("dom") == "a", quotas["a"]).when(
        F.col("dom") == "b", quotas["b"]
    )
    want = (
        df.filter(F.col("dom").isin("a", "b"))
        .withColumn("__b4", F.coalesce(F.sum("wt").over(w), F.lit(0)))
        .filter(F.col("__b4") < q)
    )
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )


# -- CDC ordered merge: ANY delivery order converges -----------------------

cdc_log = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),   # key
        st.text(alphabet="xyz", max_size=3),     # value
        st.booleans(),                           # delete?
    ),
    min_size=1,
    max_size=14,
)


@SLOW
@given(log=cdc_log, cut=st.integers(min_value=0, max_value=14), flip=st.booleans())
def test_cdc_merge_order_insensitive_property(spark, log, cut, flip, tmp_path_factory):
    """Split a change log at any point, apply the two halves in either
    order through seq-aware merge_into_parquet: the visible state must
    equal the log's last-write-wins reduction."""
    from whisper_pandas_spark.operators.merge import (
        merge_into_parquet,
        read_current_state,
    )

    rows = [
        (k, v if not d else None, seq, d)
        for seq, (k, v, d) in enumerate(log)
    ]
    cut = min(cut, len(rows))
    parts = [rows[:cut], rows[cut:]]
    if flip:
        parts = parts[::-1]
    base = str(tmp_path_factory.mktemp("cdc_prop") / "t")
    schema = "k long, v string, seq long, del boolean"
    for part in parts:
        if not part:
            continue
        merge_into_parquet(
            spark, base, spark.createDataFrame(part, schema), "k",
            delete_col="del", seq_col="seq",
        )
    want = {}
    for seq, (k, v, d) in enumerate(log):
        want[k] = None if d else v
    want = {k: v for k, v in want.items() if v is not None}
    got = {
        r["k"]: r["v"]
        for r in read_current_state(
            spark, base, delete_col="del", seq_col="seq"
        ).collect()
    }
    assert got == want


@SLOW
@given(
    n_left=st.integers(min_value=1, max_value=40),
    n_right=st.integers(min_value=1, max_value=40),
    n_keys=st.integers(min_value=1, max_value=4),
    span=st.integers(min_value=10, max_value=500),
    direction=st.sampled_from(["forward", "nearest"]),
    tol=st.sampled_from([None, 0, 13]),
    data=st.data(),
)
def test_asof_directions_match_pandas_merge_asof(
    spark, n_left, n_right, n_keys, span, direction, tol, data
):
    """forward / nearest / tolerance must agree with pd.merge_asof on
    random keys/timestamps. Tie rule alignment: at equal |distance|,
    this engine picks backward; pandas 'nearest' does too."""
    import pandas as pd

    from whisper_pandas_spark.operators.asof import asof_join

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    lk = rng.integers(0, n_keys, n_left)
    lt = rng.integers(0, span, n_left)
    rk = rng.integers(0, n_keys, n_right)
    rt = rng.integers(0, span, n_right)
    right_pairs = {(int(k), int(t)): float(rng.normal()) for k, t in zip(rk, rt)}

    left = spark.createDataFrame(
        [(int(k), int(t)) for k, t in zip(lk, lt)], "key long, ts long"
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in right_pairs.items()],
        "key long, ts long, value double",
    )
    got = asof_join(
        left, right, on="key", left_ts="ts", right_ts="ts",
        direction=direction, tolerance_seconds=tol,
    ).collect()

    lpd = pd.DataFrame({"key": lk.astype("int64"), "ts": lt.astype("int64")})
    rpd = pd.DataFrame(
        [(k, t, v) for (k, t), v in right_pairs.items()],
        columns=["key", "ts", "value"],
    ).sort_values("ts")
    want = pd.merge_asof(
        lpd.sort_values("ts"), rpd, on="ts", by="key", direction=direction,
        tolerance=tol,
    ).dropna(subset=["value"])

    got_set = sorted((r["key"], r["ts"], r["value_asof"]) for r in got)
    want_set = sorted(
        (int(r.key), int(r.ts), float(r.value)) for r in want.itertuples()
    )
    assert got_set == want_set


def test_asof_direction_validation(spark):
    from whisper_pandas_spark.operators.asof import asof_join

    l = spark.createDataFrame([(1, 1)], "key long, ts long")
    r = spark.createDataFrame([(1, 1, 1.0)], "key long, ts long, value double")
    with pytest.raises(ValueError, match="direction"):
        asof_join(l, r, on="key", direction="sideways")
    with pytest.raises(ValueError, match="bucketed forward"):
        asof_join(l, r, on="key", direction="forward", time_bucket_seconds=10)
    with pytest.raises(ValueError, match="bucketed forward"):
        asof_join(l, r, on="key", tolerance_seconds=5, time_bucket_seconds=10)


# -- seasonal_decompose vs an independent numpy reference ------------------


@SLOW
@given(
    n=st.integers(min_value=4, max_value=60),
    period=st.integers(min_value=2, max_value=7),
    data=st.data(),
)
def test_seasonal_decompose_matches_numpy_reference(spark, n, period, data):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.decompose import seasonal_decompose

    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    vals = np.round(rng.normal(50, 10, n), 3)
    res = 60
    base = 1_600_000_020  # deliberately NOT period-aligned
    df = spark.createDataFrame(
        [("m", base + res * i, float(v)) for i, v in enumerate(vals)],
        "metric string, epoch long, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    got = {
        int(r["ts"].timestamp()): (r["trend"], r["seasonal"], r["residual"])
        for r in seasonal_decompose(
            df, ("metric",), "ts", "value", period, res
        ).collect()
    }

    # independent numpy construction of the same classical method
    half = period // 2
    trend = np.full(n, np.nan)
    for i in range(n):
        if period % 2 == 1:
            lo, hi = i - half, i + half
            if lo >= 0 and hi < n:
                trend[i] = vals[lo : hi + 1].sum() / period
        else:
            lo, hi = i - half, i + half
            if lo >= 0 and hi < n:
                trend[i] = (
                    vals[lo + 1 : hi].sum() + 0.5 * (vals[lo] + vals[hi])
                ) / period
    t0 = base // res
    phases = (t0 + np.arange(n)) % period
    detr = vals - trend
    pm = {}
    for p in range(period):
        d = detr[(phases == p) & ~np.isnan(detr)]
        if len(d):
            pm[p] = d.sum() / len(d)
    # n <= period leaves no complete centered window: pm is empty and
    # the engine correctly emits all-NULL decompositions (regression for
    # the n == period == 4 falsifying draw — the division below used to
    # ZeroDivisionError in this TEST reference, not in the operator).
    if not pm:
        for i in range(n):
            g_tr, g_se, g_re = got[base + res * i]
            assert g_tr is None and g_se is None and g_re is None
        return
    grand = sum(pm.values()) / len(pm)
    for i in range(n):
        ts = base + res * i
        g_tr, g_se, g_re = got[ts]
        if np.isnan(trend[i]):
            assert g_tr is None and g_re is None
        else:
            assert abs(g_tr - trend[i]) < 1e-6
            se = pm[phases[i]] - grand
            assert abs(g_se - se) < 1e-5
            assert abs(g_re - (vals[i] - trend[i] - round(se, 6))) < 1e-5


def test_seasonal_decompose_all_null_when_n_equals_period(spark):
    """Pinned falsifying draw from the property above (n == period == 4):
    no complete centered window exists, so every decomposition column must
    be NULL — the operator handled this all along; only the test-side numpy
    reference used to crash."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.decompose import seasonal_decompose

    df = spark.createDataFrame(
        [("m", 1_600_000_020 + 60 * i, float(v)) for i, v in enumerate([1.0, 5.0, 2.0, 8.0])],
        "metric string, epoch long, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    rows = seasonal_decompose(df, ("metric",), "ts", "value", 4, 60).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["trend"] is None and r["seasonal"] is None and r["residual"] is None


def _round_half_up(x: float, nd: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its decimal form. Python's
    ``round`` is half-even (0.0078125 -> 0.007812, Spark 0.007813)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP)
    return float(q)


@SLOW
@given(
    vals=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=2,
        max_size=40,
    ),
    a=st.sampled_from([0.2, 0.5, 0.9]),
    b=st.sampled_from([0.0, 0.3, 1.0]),
)
@example(vals=[1.0, 0.0, 0.96875, 0.0, 0.0], a=0.5, b=1.0)
def test_holt_forecast_matches_python_fold_property(spark, vals, a, b):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.forecast import holt_forecast

    df = spark.createDataFrame(
        [("m", 1_600_000_000 + 10 * i, float(v)) for i, v in enumerate(vals)],
        "metric string, epoch long, value double",
    ).select("metric", F.timestamp_seconds("epoch").alias("ts"), "value")
    l, bb = vals[0], vals[1] - vals[0]
    for x in vals[1:]:
        nl = a * x + (1.0 - a) * (l + bb)
        bb = b * (a * x + (1.0 - a) * (l + bb) - l) + (1.0 - b) * bb
        l = nl
    r = holt_forecast(df, ("metric",), "ts", "value", a, b, 1).collect()[0]
    assert abs(r["level"] - _round_half_up(l, 6)) < 1e-9
    assert abs(r["slope"] - _round_half_up(bb, 6)) < 1e-9
