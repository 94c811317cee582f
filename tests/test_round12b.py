"""Round-12b operators: C4 line filtering, HTML extraction, winnowing
fingerprints (+ MOSS overlap pairs), HyperLogLog sketches, int8
k-means, WordPiece, ORC/XML ingest, the integrated web pipeline,
JL random projection, Kneser-Ney trigram LM, T5 span corruption, and
power-iteration PCA / all-but-the-top — golden and property tests
(brute-force Python replications on small inputs, plus the algebraic
laws: winnowing's shared-substring guarantee and stop-fingerprint
bound, HLL's idempotent max-merge, Lloyd's equivalence at every
iteration count, KN's proper-distribution law, span corruption's
reconstruction round trip, ABTT's residual orthogonality)."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# C4 line filter
# ---------------------------------------------------------------------------


def _c4_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_c4_keeps_good_lines_drops_bad(spark):
    from whisper_pandas_spark.operators.cleaning import c4_line_filter

    text = "\n".join(
        [
            "this is a perfectly fine sentence with many words.",  # keep
            "too short.",  # < 5 words
            "no terminal punctuation here at all",  # no punct
            "this page requires javascript to be enabled please.",  # bad substr
            "please read our privacy policy before continuing today.",  # bad
            "another fine sentence that ends with a question mark?",  # keep
            'a quoted ending also counts as terminal punctuation."',  # keep
            "semicolons are not terminal punctuation at all;",  # bad punct
        ]
    )
    out = c4_line_filter(_c4_df(spark, [(1, text)]), "doc_id", "text").collect()[0]
    assert out["n_lines"] == 8
    assert out["n_kept"] == 3
    assert out["doc_kept"] is True
    assert out["clean_text"].count("\n") == 2
    assert "javascript" not in out["clean_text"]


def test_c4_document_level_drops(spark):
    from whisper_pandas_spark.operators.cleaning import c4_line_filter

    good = "a good long sentence with enough words here."
    cases = [
        # lorem ipsum anywhere drops the doc
        (1, "\n".join([good] * 5 + ["lorem ipsum dolor sit amet."])),
        # curly brace anywhere drops the doc
        (2, "\n".join([good] * 5 + ["function f() { return 1; }"])),
        # fewer than 3 surviving lines drops the doc
        (3, "\n".join([good] * 2)),
        # control: 3 good lines, no poison -> kept
        (4, "\n".join([good] * 3)),
    ]
    rows = {
        r["doc_id"]: r
        for r in c4_line_filter(
            _c4_df(spark, cases), "doc_id", "text"
        ).collect()
    }
    assert [rows[i]["doc_kept"] for i in (1, 2, 3, 4)] == [
        False,
        False,
        False,
        True,
    ]
    assert rows[3]["n_kept"] == 2  # rules still counted on dropped docs
    assert rows[4]["clean_text"] == "\n".join([good] * 3)
    assert rows[1]["clean_text"] == ""  # dropped docs yield empty, not null


def test_c4_matches_bruteforce_python(spark):
    """Property: the Spark rules equal a direct Python reimplementation
    on generated multi-line docs."""
    from whisper_pandas_spark.operators.cleaning import (
        DOC_BAD_SUBSTRINGS,
        LINE_BAD_SUBSTRINGS,
        c4_line_filter,
    )

    import random

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = []
    for d in range(40):
        lines = []
        for _ in range(rng.randint(1, 10)):
            n = rng.randint(1, 9)
            line = " ".join(rng.choice(words) for _ in range(n))
            line += rng.choice([".", "!", "?", "", ";", '"'])
            if rng.random() < 0.1:
                line += " javascript"
            if rng.random() < 0.05:
                line += " lorem ipsum"
            lines.append(line)
        docs.append((d, "\n".join(lines)))

    def brute(text: str):
        lines = text.split("\n")
        kept = [
            l
            for l in lines
            if re.search(r'[.!?"]$', l.strip())
            and len(re.split(" +", l.strip())) >= 5
            and not any(s in l.lower() for s in LINE_BAD_SUBSTRINGS)
        ]
        doc_kept = len(kept) >= 3 and not any(
            s in text.lower() for s in DOC_BAD_SUBSTRINGS
        )
        return len(lines), len(kept), doc_kept, "\n".join(kept) if doc_kept else ""

    got = {
        r["doc_id"]: r
        for r in c4_line_filter(_c4_df(spark, docs), "doc_id", "text").collect()
    }
    for d, text in docs:
        nl, nk, dk, clean = brute(text)
        r = got[d]
        assert (r["n_lines"], r["n_kept"], r["doc_kept"], r["clean_text"]) == (
            nl,
            nk,
            dk,
            clean,
        ), f"doc {d}: {text!r}"


# ---------------------------------------------------------------------------
# HTML extraction
# ---------------------------------------------------------------------------


def _strip(spark, html: str) -> str:
    from whisper_pandas_spark.operators.cleaning import html_extract

    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    return html_extract(df, "doc_id", "html").collect()[0]["clean_text"]


def test_html_strip_blocks_and_tags(spark):
    html = (
        "<html><head><script>var x = '<p>not text</p>';</script>"
        "<style>p { color: red }</style></head>"
        "<body><!-- comment --><h1>Title</h1>"
        "<p>Hello <b>world</b>, this is <a href='x'>a link</a>.</p>"
        "<div>second block</div></body></html>"
    )
    clean = _strip(spark, html)
    assert clean == "Title\nHello world, this is a link.\nsecond block"


def test_html_strip_multiline_script_and_case(spark):
    html = "<SCRIPT>\nline1\nline2\n</SCRIPT><P>kept text here.</P>"
    assert _strip(spark, html) == "kept text here."


def test_html_entity_decode_order(spark):
    # &amp;lt; must decode to the LITERAL "&lt;", not "<" (amp last)
    assert _strip(spark, "<p>a &amp;lt; b &lt; c &quot;q&#39;&nbsp;d</p>") == (
        "a &lt; b < c \"q' d"
    )


def test_html_whitespace_collapse(spark):
    assert (
        _strip(spark, "<p>a   b</p><p></p><p>  c\t d  </p>") == "a b\nc d"
    )


# ---------------------------------------------------------------------------
# winnowing
# ---------------------------------------------------------------------------


def _winnow_brute(tokens: list[str], k: int, w: int) -> set[tuple[int, int]]:
    """Direct paper algorithm: hash k-grams, per window pick the
    rightmost minimum, dedupe selections."""
    if len(tokens) < k:
        return set()
    hs = []
    for i in range(len(tokens) - k + 1):
        gram = " ".join(tokens[i : i + k])
        h = int(hashlib.md5(f"win:{gram}".encode()).hexdigest()[:15], 16)
        hs.append(h)
    sel = set()
    n_starts = max(len(hs) - w, 0) + 1
    for s in range(n_starts):
        win = hs[s : s + w]
        m = min(win)
        # rightmost occurrence
        j = len(win) - 1 - win[::-1].index(m)
        sel.add((s + j, m))
    return sel


def _winnow_spark(spark, docs, k=4, w=5):
    from whisper_pandas_spark.operators.winnow import winnow_fingerprints

    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    out = winnow_fingerprints(df, "doc_id", "toks", k=k, w=w).collect()
    res: dict[int, set] = {}
    for r in out:
        res.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    return res


def test_winnow_matches_bruteforce(spark):
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (d, [rng.choice(vocab) for _ in range(rng.randint(0, 40))])
        for d in range(30)
    ]
    got = _winnow_spark(spark, docs)
    for d, toks in docs:
        assert got.get(d, set()) == _winnow_brute(toks, 4, 5), (d, toks)


def test_winnow_arrow_matches_window_form(spark):
    """The round-14 Arrow query path (monotonic-deque rightmost-min,
    memoized md5) returns EXACTLY the window form's rows — same
    adversarial fixture as the bruteforce pin, plus tie-heavy repeats,
    short docs, and an empty-token doc."""
    import random

    from whisper_pandas_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_fingerprints_arrow,
    )

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(6)]  # tiny vocab -> many hash ties
    docs = [
        (d, [rng.choice(vocab) for _ in range(rng.randint(0, 40))])
        for d in range(40)
    ] + [(100, []), (101, ["a"] * 25), (102, ["a", "b", "c", "d", "e"])]
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    for k, w in ((4, 5), (1, 1), (2, 7)):
        a = sorted(
            map(tuple, winnow_fingerprints(df, "doc_id", "toks", k=k, w=w).collect())
        )
        b = sorted(
            map(
                tuple,
                winnow_fingerprints_arrow(
                    df, "doc_id", "toks", k=k, w=w
                ).collect(),
            )
        )
        assert a == b, (k, w)


def test_winnow_shared_substring_guarantee(spark):
    """The paper's guarantee: any shared token run of length >= w+k-1
    yields at least one shared fingerprint."""
    import random

    rng = random.Random(13)
    shared = [f"s{i}" for i in range(8)]  # w+k-1 = 8 tokens
    a = [f"a{i}" for i in range(20)] + shared + [f"a{i}" for i in range(20, 35)]
    b = [f"b{i}" for i in range(9)] + shared + [f"b{i}" for i in range(9, 30)]
    got = _winnow_spark(spark, [(1, a), (2, b)])
    fps1 = {fp for _, fp in got[1]}
    fps2 = {fp for _, fp in got[2]}
    assert fps1 & fps2, "shared run must produce a shared fingerprint"
    # and two token streams with disjoint vocabularies share nothing
    got2 = _winnow_spark(
        spark,
        [(3, [f"x{i}" for i in range(30)]), (4, [f"y{i}" for i in range(30)])],
    )
    assert not ({fp for _, fp in got2[3]} & {fp for _, fp in got2[4]})


def test_winnow_short_docs(spark):
    # < k tokens: no rows; k..k+w-2 tokens: single short window
    got = _winnow_spark(
        spark, [(1, ["a", "b", "c"]), (2, ["a", "b", "c", "d", "e"])]
    )
    assert 1 not in got
    assert len(got[2]) == 1  # 2 grams < w -> one window, one selection


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


def _hll_df(spark, vals, grp="g"):
    return spark.createDataFrame(
        [(grp, str(v)) for v in vals], "grp string, val string"
    )


def test_hll_estimate_within_bound(spark):
    from whisper_pandas_spark.operators.hll import (
        hll_error_bound,
        hll_estimate,
        hll_rollup,
        hll_shard_sketches,
    )

    n = 3000
    sk = hll_rollup(
        hll_shard_sketches(_hll_df(spark, range(n)), ("grp",), "val"), ("grp",)
    )
    est = hll_estimate(sk, ("grp",)).collect()[0]["est"]
    # 5 sigma of the asymptotic bound (1.04/sqrt(64) ~ 13%)
    assert abs(est - n) / n < 5 * hll_error_bound(64)


def test_hll_small_range_linear_counting(spark):
    from whisper_pandas_spark.operators.hll import (
        hll_estimate,
        hll_rollup,
        hll_shard_sketches,
    )

    n = 12
    sk = hll_rollup(
        hll_shard_sketches(_hll_df(spark, range(n)), ("grp",), "val"), ("grp",)
    )
    row = hll_estimate(sk, ("grp",)).collect()[0]
    assert row["n_zero_regs"] > 0
    # linear counting: m * ln(m / V) — recompute exactly
    expect = 64.0 * math.log(64.0 / row["n_zero_regs"])
    assert abs(row["est"] - round(expect, 6)) < 1e-9


def test_hll_merge_idempotent_and_monotone(spark):
    from whisper_pandas_spark.operators.hll import (
        hll_estimate,
        hll_rollup,
        hll_shard_sketches,
    )

    a = hll_shard_sketches(_hll_df(spark, range(500)), ("grp",), "val")
    # merging a sketch with itself changes nothing (max idempotence)
    once = hll_rollup(a, ("grp",)).orderBy("bucket").collect()
    twice = hll_rollup(a.unionByName(a), ("grp",)).orderBy("bucket").collect()
    assert once == twice
    # merged shards == direct build over the union
    b = hll_shard_sketches(
        _hll_df(spark, range(300, 800)), ("grp",), "val"
    )
    merged = hll_rollup(a.unionByName(b), ("grp",))
    direct = hll_shard_sketches(
        _hll_df(spark, range(800)), ("grp",), "val"
    )
    assert (
        hll_estimate(merged, ("grp",)).collect()
        == hll_estimate(hll_rollup(direct, ("grp",)), ("grp",)).collect()
    )


def test_hll_rho_distribution_sanity(spark):
    # rho >= 1 everywhere; registers bounded by payload bits + 1
    from whisper_pandas_spark.operators.hll import hll_shard_sketches

    rows = hll_shard_sketches(
        _hll_df(spark, range(2000)), ("grp",), "val"
    ).collect()
    assert all(1 <= r["reg"] <= 55 for r in rows)
    assert all(0 <= r["bucket"] < 64 for r in rows)


# ---------------------------------------------------------------------------
# int8 k-means
# ---------------------------------------------------------------------------


def _km_fixture(spark, k=3, per=20, dim=8, sep=60, interleave=False):
    """k well-separated blobs; ``interleave=True`` numbers ids
    blob-round-robin so the first-k-ids init spans every blob (the
    deterministic init is documented as seed-quality-sensitive — a
    production caller feeds pre-spread ids or more iterations)."""
    import random

    rng = random.Random(5)
    rows = []
    for c in range(k):
        # blobs separated by DIRECTION, not magnitude: per-vector
        # symmetric quantization divides by max|v|, so code-space
        # distance sees the direction of a vector only
        base = [sep if d % k == c else 0 for d in range(dim)]
        base = [b + rng.randint(-2, 2) for b in base]
        for i in range(per):
            vec = [b + rng.uniform(-3, 3) for b in base]
            vid = c + k * i if interleave else c * per + i
            rows.append((vid, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _kmeans_brute(codes: dict[int, list[int]], k: int, iters: int):
    """Direct reimplementation of operators/kmeans.py:kmeans_int8 —
    init at the k smallest ids, assign (tie -> lowest cid), floored
    integer means, empty clusters keep previous centroids."""
    ids = sorted(codes)
    cents = [list(codes[i]) for i in ids[:k]]
    dim = len(cents[0])

    def assign():
        out = {}
        for vid, q in codes.items():
            dists = [
                (sum((a - b) ** 2 for a, b in zip(q, c)), j)
                for j, c in enumerate(cents)
            ]
            d, j = min(dists)
            out[vid] = (j, d)
        return out

    for _ in range(iters):
        a = assign()
        members: dict[int, list] = {}
        for vid, (j, _) in a.items():
            members.setdefault(j, []).append(codes[vid])
        for j, vs in members.items():
            cents[j] = [
                math.floor(sum(v[d] for v in vs) / len(vs))
                for d in range(dim)
            ]
    return assign()


def test_int8_codes_arrow_bitmatches_expression_form(spark):
    """The round-15 Arrow quantization pass must be element-for-element
    equal to the expression form it replaced
    (transform/aggregate HOFs over cast-to-double inputs), including
    the all-zero-vector rule, a ragged/empty row and a NULL vector."""
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.embeddings import _quantize, _vabs_max
    from whisper_pandas_spark.operators.kmeans import int8_codes

    df = _km_fixture(spark).unionByName(
        spark.createDataFrame(
            [(9001, [0.0, 0.0, 0.0, 0.0]), (9002, []), (9003, None)],
            "vec_id long, embedding array<double>",
        )
    )
    v = F.col("embedding")
    def codes(rows):
        return {
            r["vec_id"]: None if r["q"] is None else list(r["q"])
            for r in rows
        }

    expr = codes(
        df.select("vec_id", _quantize(v, _vabs_max(v)).alias("q")).collect()
    )
    arrow = codes(int8_codes(df, "vec_id", "embedding").collect())
    assert arrow == expr
    assert arrow[9001] == [0, 0, 0, 0] and arrow[9002] == []
    assert arrow[9003] is None


def test_kmeans_matches_bruteforce(spark):
    """The distributed loop equals a direct Python replication of the
    same algorithm (same init, tie rule, floored means) — assignment
    AND exact integer distance, per vector."""
    from whisper_pandas_spark.operators.kmeans import int8_codes, kmeans_int8

    df = _km_fixture(spark)
    codes = {
        r["vec_id"]: list(r["q"])
        for r in int8_codes(df, "vec_id", "embedding").collect()
    }
    for iters in (0, 1, 2):
        want = _kmeans_brute(codes, 3, iters)
        got = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_int8(
                df, "vec_id", "embedding", k=3, iters=iters
            ).collect()
        }
        assert got == want, f"iters={iters}"


def test_kmeans_separated_clusters_recovered(spark):
    from whisper_pandas_spark.operators.kmeans import kmeans_int8, kmeans_summary

    df = _km_fixture(spark, k=3, per=20, interleave=True)
    assigned = kmeans_int8(df, "vec_id", "embedding", k=3, iters=3)
    # well-separated blobs: each input blob lands in ONE cluster
    rows = assigned.collect()
    blob = {r["vec_id"]: r["vec_id"] % 3 for r in rows}
    mapping: dict[int, set] = {}
    for r in rows:
        mapping.setdefault(blob[r["vec_id"]], set()).add(r["cluster"])
    assert all(len(cs) == 1 for cs in mapping.values())
    sizes = {
        r["cluster"]: r["size"]
        for r in kmeans_summary(assigned, "vec_id").collect()
    }
    assert sorted(sizes.values()) == [20, 20, 20]


def test_kmeans_validates_args(spark):
    from whisper_pandas_spark.operators.kmeans import kmeans_int8

    df = _km_fixture(spark, k=1, per=3)
    with pytest.raises(ValueError):
        kmeans_int8(df, "vec_id", "embedding", k=0)
    with pytest.raises(ValueError):
        kmeans_int8(df, "vec_id", "embedding", k=99)  # more k than vectors


# ---------------------------------------------------------------------------
# ORC ingest
# ---------------------------------------------------------------------------


def test_orc_roundtrip_lossless(spark, tmp_path):
    from whisper_pandas_spark.sources.ingest import read_orc, write_orc

    rows = [
        (1, "plain", 1.5),
        (2, 'uni ✓ "quoted"\nnewline', -0.0),
        (3, None, float("nan")),
    ]
    df = spark.createDataFrame(rows, "id long, s string, x double")
    write_orc(df, str(tmp_path / "orc"))
    back = read_orc(spark, str(tmp_path / "orc"), "id long, s string, x double")
    got = sorted(back.collect(), key=lambda r: r["id"])
    assert [r["s"] for r in got] == ["plain", 'uni ✓ "quoted"\nnewline', None]
    assert math.isnan(got[2]["x"]) and got[1]["x"] == -0.0

# ---------------------------------------------------------------------------
# WordPiece
# ---------------------------------------------------------------------------


def test_wordpiece_greedy_encode_golden():
    from whisper_pandas_spark.operators.wordpiece import greedy_encode

    vocab = {"un", "##aff", "##able", "##a", "##f", "##b", "##l", "##e",
             "u", "##n", "hug", "##s"}
    assert greedy_encode("unaffable", vocab) == ["un", "##aff", "##able"]
    assert greedy_encode("hugs", vocab) == ["hug", "##s"]
    # longest-match-FIRST, not optimal: "##aff" wins over "##a" at pos 2
    assert greedy_encode("unaff", vocab) == ["un", "##aff"]
    # over-long word -> UNK
    assert greedy_encode("x" * 25, vocab) is None
    # no matching piece -> UNK
    assert greedy_encode("zzz", vocab) is None


def test_wordpiece_training_prefers_likelihood_over_frequency(spark):
    """The WordPiece objective: pair (a,b) with high count but very
    frequent parts loses to a rarer pair with exclusive parts —
    the case that distinguishes it from raw-frequency BPE."""
    from whisper_pandas_spark.operators.wordpiece import wordpiece_train_local, word_syms

    # "ab" x10, "azb" x2, "qz" x4:
    #   units a:12  ##b:12  ##z:6  q:4
    #   pair (a,##b) count 10 -> score 10/144 = 0.069  (BPE's pick)
    #   pair (q,##z) count 4  -> score 4/24  = 0.167   (WordPiece's pick)
    rows = (
        [(word_syms("ab"), 10)]
        + [(word_syms("azb"), 2)]  # pads unit counts for a / ##b
        + [(word_syms("qz"), 4)]
    )
    pieces = wordpiece_train_local(rows, num_merges=1)
    assert "qz" in pieces and "ab" not in pieces


def test_wordpiece_train_matches_hand_computation():
    from whisper_pandas_spark.operators.wordpiece import (
        wordpiece_train_local,
        word_syms,
    )

    # corpus: "low" x5, "lower" x2 — trace the scored merges by hand
    rows = [(word_syms("low"), 5), (word_syms("lower"), 2)]
    # units: l:7 ##o:7 ##w:7 ##e:2 ##r:2
    # pairs: (l,##o):7 s=7/49=.1428  (##o,##w):7 s=7/49
    #        (##w,##e):2 s=2/14=.1428... (##e,##r):2 s=2/4=0.5  <- best
    pieces = wordpiece_train_local(rows, num_merges=1)
    assert "##er" in pieces
    pieces2 = wordpiece_train_local(rows, num_merges=2)
    # after ##er: units l:7 ##o:7 ##w:7 ##er:2; every pair scores
    # exactly 1/7 (7/49 and 2/14 are the same double) -> the tie breaks
    # (a, b) ascending, and '##o' < '##w' < 'l' in code-point order,
    # so the second merge is ('##o','##w') -> '##ow'
    assert "##ow" in pieces2


def test_wordpiece_encode_ids_reassembly(spark):
    from whisper_pandas_spark.operators.wordpiece import (
        wordpiece_encode_ids,
        wordpiece_train,
    )

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "lower low"), (3, None)],
        "doc_id long, text string",
    )
    pieces = wordpiece_train(df.filter("text is not null"), "text", 2)
    out = {
        r["doc_id"]: r
        for r in wordpiece_encode_ids(df, "doc_id", "text", pieces).collect()
    }
    assert out[1]["n_pretokens"] == 3 and out[2]["n_pretokens"] == 2
    assert out[3]["n_pretokens"] == 0 and out[3]["ids_csv"] == ""
    assert out[1]["n_unk"] == 0 and out[2]["n_unk"] == 0
    # positional reassembly: the doc sequence is exactly the per-word
    # greedy encodes concatenated in document order
    from whisper_pandas_spark.operators.wordpiece import greedy_encode

    ids = {p: i for i, p in enumerate(sorted(set(pieces)))}

    def enc(word: str) -> str:
        return ",".join(str(ids[t]) for t in greedy_encode(word, set(pieces)))

    assert out[1]["ids_csv"] == ",".join([enc("low"), enc("low"), enc("lower")])
    assert out[2]["ids_csv"] == ",".join([enc("lower"), enc("low")])
    assert out[1]["n_tokens"] == len(out[1]["ids_csv"].split(","))


def test_wordpiece_unk_clamp(spark):
    from whisper_pandas_spark.operators.wordpiece import (
        UNK_ID,
        wordpiece_encode_ids,
    )

    df = spark.createDataFrame(
        [(1, "short " + "x" * 30)], "doc_id long, text string"
    )
    out = wordpiece_encode_ids(
        df, "doc_id", "text", ["s", "##h", "##o", "##r", "##t", "x", "##x"]
    ).collect()[0]
    assert out["n_unk"] == 1
    assert str(UNK_ID) in out["ids_csv"].split(",")


# ---------------------------------------------------------------------------
# web pipeline + random projection
# ---------------------------------------------------------------------------


def test_web_pipeline_funnel_monotone(spark):
    import __spark_entry__ as e

    rows = e.queries()["pipeline_web_end_to_end"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "funnel must be non-empty"
    for r in rows:
        assert r["n_raw"] >= r["n_c4"] >= r["n_dedup"] >= r["n_kept"]
        assert r["n_kept"] <= 15  # the per-domain quota
    # the constant-body duplicate plants (doc_id % 53 == 11) collapse
    # corpus-wide: across all domains at most ONE such doc survives dedup
    total_dedup = sum(r["n_dedup"] for r in rows)
    total_c4 = sum(r["n_c4"] for r in rows)
    ids = [
        r["doc_id"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id").collect()
    ]
    n_dup_docs = len([i for i in ids if i % 53 == 11])
    assert n_dup_docs >= 2  # fixture sanity: the plant exists
    assert total_c4 - total_dedup >= n_dup_docs - 1


def test_rp_sign_matrix_deterministic_and_balanced():
    from whisper_pandas_spark.operators.randproj import rp_sign, rp_sign_matrix

    m = rp_sign_matrix(64, 16)
    assert m == rp_sign_matrix(64, 16)
    assert all(v in (-1, 1) for row in m for v in row)
    # md5 uniformity: the +-1 split is near-balanced
    flat = [v for row in m for v in row]
    assert 0.35 < flat.count(1) / len(flat) < 0.65
    assert rp_sign(3, 7) == m[3][7]


def test_rp_projection_matches_numpy(spark):
    import numpy as np

    from whisper_pandas_spark.operators.kmeans import int8_codes
    from whisper_pandas_spark.operators.randproj import (
        rp_project_int8,
        rp_sign_matrix,
    )

    df = _km_fixture(spark, k=2, per=10, dim=8)
    codes = {
        r["vec_id"]: np.array(r["q"], dtype=np.int64)
        for r in int8_codes(df, "vec_id", "embedding").collect()
    }
    smat = np.asarray(rp_sign_matrix(8, 4), dtype=np.int64)
    got = {
        r["vec_id"]: list(r["p"])
        for r in rp_project_int8(df, "vec_id", "embedding", 8, 4).collect()
    }
    for vid, q in codes.items():
        assert got[vid] == list(q @ smat)


def test_rp_preserves_planted_neighbors(spark):
    """JL property on a planted structure: a vector's near-identical
    twin ranks first in projected space too."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(64)]
        twin = [x + rng.uniform(-0.01, 0.01) for x in base]
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from whisper_pandas_spark.operators.randproj import rp_project_int8

    proj = {
        r["vec_id"]: r["p"]
        for r in rp_project_int8(df, "vec_id", "embedding", 64, 16).collect()
    }

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    hits = 0
    for i in range(40):
        q = proj[2 * i]
        best = max(
            (v for v in proj if v != 2 * i),
            key=lambda v: (dot(q, proj[v]), -v),
        )
        hits += best == 2 * i + 1
    assert hits >= 36  # twins dominate in projected space


# ---------------------------------------------------------------------------
# Kneser-Ney trigram LM
# ---------------------------------------------------------------------------


def _kn_brute(corpus: dict[int, str], d=0.75):
    """Direct python interpolated-KN trigram model + per-doc logprob."""
    import collections
    import math as m
    import re as _re

    def toks(t):
        return ["<s>", "<s>"] + [
            x for x in _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
            if x
        ] + ["</s>"]

    tris = collections.Counter()
    streams = {}
    for did, t in corpus.items():
        seq = toks(t)
        streams[did] = [tuple(seq[i : i + 3]) for i in range(len(seq) - 2)]
        tris.update(streams[did])
    c12 = collections.Counter()
    n1p_12dot = collections.Counter()
    n1p_dot23 = collections.Counter()
    n1p_dot2dot = collections.Counter()
    n1p_2dot = collections.defaultdict(set)
    for (w1, w2, w3), c in tris.items():
        c12[(w1, w2)] += c
        n1p_12dot[(w1, w2)] += 1
        n1p_dot23[(w2, w3)] += 1
        n1p_dot2dot[w2] += 1
        n1p_2dot[w2].add(w3)
    cont = collections.Counter()
    for (w2, w3) in n1p_dot23:
        cont[w3] += 1
    nt = len(n1p_dot23)

    def p(w1, w2, w3):
        pc = cont[w3] / nt
        p2 = max(n1p_dot23[(w2, w3)] - d, 0) / n1p_dot2dot[w2] + (
            (d * len(n1p_2dot[w2])) / n1p_dot2dot[w2]
        ) * pc
        return max(tris[(w1, w2, w3)] - d, 0) / c12[(w1, w2)] + (
            (d * n1p_12dot[(w1, w2)]) / c12[(w1, w2)]
        ) * p2

    return {
        did: (len(st), round(sum(m.log(p(*g)) for g in st), 6))
        for did, st in streams.items()
    }, p, n1p_2dot


def test_kn_matches_bruteforce(spark):
    import random

    rng = random.Random(17)
    words = "the cat sat on a mat dog ran big red".split()
    corpus = {
        i: " ".join(rng.choice(words) for _ in range(rng.randint(0, 25)))
        for i in range(30)
    }
    from whisper_pandas_spark.operators.knlm import kn_trigram_score

    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["logprob"])
        for r in kn_trigram_score(df, "doc_id", "text").collect()
    }
    want, _, _ = _kn_brute(corpus)
    assert got == want


def test_kn_distribution_sums_to_one():
    """Interpolated KN is a proper distribution: for any seen context,
    P(w3|w1,w2) over the full event space sums to 1 (the continuation
    interpolation guarantees it)."""
    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on a mat",
        3: "a cat ran",
    }
    _, p, n1p_2dot = _kn_brute(corpus)
    vocab = set(w for ws in n1p_2dot.values() for w in ws) | {
        "</s>", "the", "cat", "dog", "sat", "on", "a", "mat", "ran"
    }
    for ctx in [("the", "cat"), ("<s>", "<s>"), ("on", "the"), ("a", "cat")]:
        total = sum(p(ctx[0], ctx[1], w) for w in vocab)
        assert abs(total - 1.0) < 1e-9, (ctx, total)


def test_kn_plausible_beats_gibberish(spark):
    """The quality-signal property: a document written in the corpus
    language scores higher (per trigram) than a shuffled-gibberish one."""
    base = "the cat sat on the mat and the dog ran to the cat"
    corpus = [(i, base) for i in range(10)]
    corpus.append((100, "the cat sat on the mat"))
    corpus.append((101, "mat the on cat sat the"))
    from whisper_pandas_spark.operators.knlm import kn_trigram_score

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r["logprob"] / r["n_trigrams"]
        for r in kn_trigram_score(df, "doc_id", "text").collect()
    }
    assert got[100] > got[101]


# ---------------------------------------------------------------------------
# span corruption
# ---------------------------------------------------------------------------


def _span_brute(doc_id: int, text: str, block=20, span_len=3):
    toks = [
        x
        for x in re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
        if x
    ]
    m = []
    for i, _ in enumerate(toks):
        b = i // block
        full = b * block + block <= len(toks)
        off = (
            int(
                hashlib.md5(f"span:{doc_id}:{b}".encode()).hexdigest()[:15],
                16,
            )
            % (block - span_len + 1)
        )
        m.append(b + 1 if full and off <= i % block < off + span_len else 0)
    inp, tgt = [], []
    for i, (x, k) in enumerate(zip(toks, m)):
        off = (
            int(
                hashlib.md5(
                    f"span:{doc_id}:{i // block}".encode()
                ).hexdigest()[:15],
                16,
            )
            % (block - span_len + 1)
        )
        if k == 0:
            inp.append(x)
        elif i % block == off:
            inp.append(f"<X_{k}>")
            tgt.append(f"<X_{k}> {x}")
        else:
            tgt.append(x)
    target = " ".join(tgt) + (" " if tgt else "") + "<eos>"
    return len(toks), sum(1 for k in m if k), " ".join(inp), target


def test_span_corrupt_matches_bruteforce(spark):
    import random

    rng = random.Random(23)
    words = "aa bb cc dd ee ff gg hh".split()
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 70))))
        for i in range(25)
    ]
    from whisper_pandas_spark.operators.spancorrupt import span_corrupt

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r for r in span_corrupt(df, "doc_id", "text").collect()
    }
    for did, text in docs:
        n, nm, inp, tgt = _span_brute(did, text)
        r = got[did]
        assert (r["n_tokens"], r["n_masked"], r["input_text"], r["target_text"]) == (
            n,
            nm,
            inp,
            tgt,
        ), (did, text)


def test_span_corrupt_rate_and_roundtrip(spark):
    from whisper_pandas_spark.operators.spancorrupt import span_corrupt

    text = " ".join(f"w{i}" for i in range(400))  # 20 full blocks
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    r = span_corrupt(df, "doc_id", "text").collect()[0]
    # exactly span_len per full block: 15% corruption by construction
    assert r["n_masked"] == 20 * 3 and r["n_spans"] == 20
    # reconstruction: input's kept tokens + target's masked tokens,
    # re-interleaved by sentinel id, equal the original sequence
    inp = r["input_text"].split(" ")
    tgt = r["target_text"].split(" ")
    assert tgt[-1] == "<eos>"
    spans: dict[str, list] = {}
    cur = None
    for x in tgt[:-1]:
        if x.startswith("<X_"):
            cur = x
            spans[cur] = []
        else:
            spans[cur].append(x)
    rebuilt = []
    for x in inp:
        rebuilt.extend(spans[x] if x.startswith("<X_") else [x])
    assert rebuilt == text.split(" ")


def test_span_corrupt_partial_block_unmasked(spark):
    from whisper_pandas_spark.operators.spancorrupt import span_corrupt

    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(19)))],  # < one block
        "doc_id long, text string",
    )
    r = span_corrupt(df, "doc_id", "text").collect()[0]
    assert r["n_masked"] == 0 and r["input_text"].split(" ") == [
        f"w{i}" for i in range(19)
    ]
    assert r["target_text"] == "<eos>"


# ---------------------------------------------------------------------------
# PCA top component
# ---------------------------------------------------------------------------


def test_pca_recovers_planted_direction(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    direction = rng.normal(size=16)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(300):
        scale = rng.normal() * 10.0  # dominant variance along `direction`
        noise = rng.normal(size=16) * 0.3
        rows.append((i, [float(x) for x in scale * direction + noise]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from whisper_pandas_spark.operators.pca import pca_top_component

    out = {
        r["vec_id"]: r["proj"]
        for r in pca_top_component(df, "vec_id", "embedding", 16).collect()
    }
    # per-vector quantization is magnitude-blind (spherical — the
    # documented int8 semantics), so the projection must separate the
    # planted direction by SIGN: vectors pointing along +direction land
    # on one side, -direction on the other (margin skips near-zero
    # scales where the noise dominates the direction)
    scales = {}
    for i, vec in rows:
        scales[i] = float(np.dot(np.asarray(vec), direction))
    pos = [out[i] for i in out if scales[i] > 2.0]
    neg = [out[i] for i in out if scales[i] < -2.0]
    assert len(pos) > 50 and len(neg) > 50  # fixture sanity
    side = 1.0 if sum(pos) > 0 else -1.0
    assert all(side * p > 0 for p in pos)
    assert all(side * q < 0 for q in neg)


def test_pca_power_iteration_matches_numpy():
    import numpy as np

    from whisper_pandas_spark.operators.pca import power_iterate

    # power iteration converges at rate (lambda2/lambda1)^iters, so the
    # test plants a WIDE eigengap: one dominant direction + weak noise
    rng = np.random.default_rng(4)
    u = rng.normal(size=8)
    u /= np.linalg.norm(u)
    x = (
        np.outer(rng.normal(size=200) * 40.0, u)
        + rng.normal(size=(200, 8)) * 2.0
    )
    c = np.rint(x.T @ x).astype(np.int64)
    v, norm = power_iterate([list(map(int, row)) for row in c], iters=30)
    evals, evecs = np.linalg.eigh(c.astype(float))
    top = evecs[:, -1]
    cos = abs(float(np.dot(v, top)))
    assert cos > 0.999
    assert abs(norm - evals[-1]) / evals[-1] < 1e-6


def test_abtt_removes_top_component(spark):
    """After ABTT correction, the corpus top direction carries ~zero
    energy: every corrected vector's projection onto v is ~0."""
    import numpy as np

    rng = np.random.default_rng(21)
    direction = rng.normal(size=16)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(120):
        scale = rng.normal() * 10.0
        noise = rng.normal(size=16) * 0.5
        rows.append((i, [float(x) for x in scale * direction + noise]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from whisper_pandas_spark.operators.pca import (
        _centered_codes,
        abtt_correct,
        gram_matrix,
        power_iterate,
    )

    qc, _ = _centered_codes(df, "vec_id", "embedding", 16)
    v, _ = power_iterate(gram_matrix(qc, 16))
    corrected = {
        r["vec_id"]: np.asarray(r["a"])
        for r in abtt_correct(df, "vec_id", "embedding", 16).collect()
    }
    vv = np.asarray(v)
    # raw centered codes project to O(100) along v; corrected to ~1e-10
    for a in corrected.values():
        assert abs(float(a @ vv)) < 1e-6


def test_winnow_overlap_pairs_guarantee_and_stopfp(spark):
    from whisper_pandas_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    # 10 planted pairs: docs 2i / 2i+1 share an 8-token run (>= w+k-1)
    # on top of otherwise-disjoint vocabularies
    docs = []
    for i in range(10):
        shared = [f"s{i}q{j}" for j in range(8)]
        docs.append((2 * i, [f"a{i}w{j}" for j in range(20)] + shared))
        docs.append((2 * i + 1, shared + [f"b{i}w{j}" for j in range(20)]))
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    fps = winnow_fingerprints(df, "doc_id", "toks")
    got = {
        (r["doc_i"], r["doc_j"]): r["n_shared"]
        for r in winnow_overlap_pairs(fps, "doc_id", min_shared=1).collect()
    }
    for i in range(10):
        assert got.get((2 * i, 2 * i + 1), 0) >= 1, i
    # disjoint-vocabulary docs never pair
    assert all(j == i + 1 and i % 2 == 0 for i, j in got)

    # stop-fingerprint guard: IDENTICAL docs select identical
    # fingerprint sets, so every fp has document frequency 12 — a
    # max_fp_docs below that drops everything (boilerplate), above it
    # all C(12,2) pairs surface
    boiler = [f"g{j}" for j in range(30)]
    docs2 = [(d, boiler) for d in range(12)]
    df2 = spark.createDataFrame(docs2, "doc_id long, toks array<string>")
    fps2 = winnow_fingerprints(df2, "doc_id", "toks")
    guarded = winnow_overlap_pairs(
        fps2, "doc_id", min_shared=1, max_fp_docs=11
    ).collect()
    assert guarded == []
    open_pairs = winnow_overlap_pairs(
        fps2, "doc_id", min_shared=1, max_fp_docs=12
    ).collect()
    assert len(open_pairs) == 66  # C(12, 2)


def test_xml_roundtrip_and_special_chars(spark, tmp_path):
    from whisper_pandas_spark.sources.ingest import read_xml, write_xml

    rows = [(1, "a&b <tag> \"q\" 'x'", 5), (2, None, -1)]
    df = spark.createDataFrame(rows, "id long, s string, n long")
    write_xml(df, str(tmp_path / "x"))
    back = read_xml(spark, str(tmp_path / "x"), "id long, s string, n long")
    got = sorted(back.collect(), key=lambda r: r["id"])
    assert got[0]["s"] == "a&b <tag> \"q\" 'x'"
    assert got[1]["s"] is None and got[1]["n"] == -1


def test_hard_negatives_labels_differ_and_match_brute(spark):
    import __spark_entry__ as e

    rows = e.queries()["emb_hard_negatives"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["neg_label"] != r["query_label"] for r in rows)
    # per query: ranked strictly by dot desc, vec_id tiebreak
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["dot_q"], r["vec_id"]))
    for q, lst in by_q.items():
        lst.sort()
        dots = [(-d, v) for _, d, v in lst]
        assert dots == sorted(dots), q


def test_group_split_integrity(spark):
    """No domain straddles splits: the split is a pure function of the
    domain key."""
    from whisper_pandas_spark.operators.sampling import split_assign

    df = spark.createDataFrame(
        [(i, f"dom{i % 7}.com") for i in range(300)],
        "doc_id long, reg_domain string",
    )
    out = split_assign(df, "reg_domain", test_fraction=0.3).collect()
    seen = {}
    for r in out:
        seen.setdefault(r["reg_domain"], set()).add(r["split"])
    assert all(len(s) == 1 for s in seen.values())
    # append-stability: re-running on a superset never flips old rows
    df2 = spark.createDataFrame(
        [(i, f"dom{i % 7}.com") for i in range(600)],
        "doc_id long, reg_domain string",
    )
    out2 = {
        r["doc_id"]: r["split"]
        for r in split_assign(df2, "reg_domain", test_fraction=0.3).collect()
    }
    for r in out:
        assert out2[r["doc_id"]] == r["split"]


def test_fim_roundtrip_and_rate(spark):
    import __spark_entry__ as e

    rows = e.queries()["text_fim_transform"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_applied = sum(1 for r in rows if r["fim_applied"])
    assert 0.35 < n_applied / len(rows) < 0.65  # ~50% md5 gate
    pre, suf, mid = "<fim_pre>", "<fim_suf>", "<fim_mid>"
    for r in rows:
        if not r["fim_applied"]:
            assert pre not in r["fim_text"]
            continue
        # counts sum to the doc and the PSM segments reconstruct it
        body = r["fim_text"]
        assert body.startswith(pre + " ")
        p, rest = body[len(pre) + 1 :].split(f" {suf} ", 1)
        s, m = rest.split(f" {mid} ", 1)
        toks = (
            (p.split(" ") if p else [])
            + (m.split(" ") if m else [])
            + (s.split(" ") if s else [])
        )
        assert len([x for x in p.split(" ") if x]) == r["n_prefix"]
        assert len([x for x in m.split(" ") if x]) == r["n_middle"]
        assert len([x for x in s.split(" ") if x]) == r["n_suffix"]


def test_stream_kn_counts_exactly_once(spark, tmp_path):
    """The additive law: a deliberate same-checkpoint reprocess is
    short-circuited by the batch markers — counts never double."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_kn_counts_update

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b x")], "doc_id long, text string"
    )
    d = str(tmp_path)
    docs.coalesce(1).write.parquet(f"{d}/changes/f1")

    def run():
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/changes/*")
        )
        q = stream_kn_counts_update(
            sdf, f"{d}/state", "doc_id", "text", checkpoint_dir=f"{d}/ckpt"
        )
        q.processAllAvailable()
        q.stop()

    run()
    first = {
        (r["w1"], r["w2"], r["w3"]): r["c123"]
        for r in spark.read.parquet(current_version_path(f"{d}/state")).collect()
    }
    assert first[("<s>", "<s>", "a")] == 2  # both docs start with 'a'
    assert first[("a", "b", "c")] == 2  # twice in doc 1

    # a WIPED checkpoint at the same path re-delivers batch 0, but the
    # marker is scoped to the checkpoint PATH and stores the last merged
    # batch id — the re-delivery is short-circuited, counts never double
    import shutil

    shutil.rmtree(f"{d}/ckpt")
    run()
    second = {
        (r["w1"], r["w2"], r["w3"]): r["c123"]
        for r in spark.read.parquet(current_version_path(f"{d}/state")).collect()
    }
    assert second == first

    # and a plain restart on the intact checkpoint is a no-op too
    run()
    third = {
        (r["w1"], r["w2"], r["w3"]): r["c123"]
        for r in spark.read.parquet(current_version_path(f"{d}/state")).collect()
    }
    assert third == first
