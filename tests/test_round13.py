"""Round-13 tests: ADVICE regression fixes + the round's new operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round12b import _km_fixture


# ---------------------------------------------------------------------------
# ADVICE (r12, medium): the Arrow stages in kmeans/pca/randproj labeled
# the output id column with a hardcoded 'vec_id' — PySpark 4 binds Arrow
# batch columns to the declared schema BY NAME, so any other id_col
# raised KeyError despite the public id_col parameter.
# ---------------------------------------------------------------------------


def _renamed_fixture(spark, **kw):
    return _km_fixture(spark, **kw).withColumnRenamed("vec_id", "item_id")


def test_kmeans_int8_accepts_any_id_col(spark):
    from whisper_pandas_spark.operators.kmeans import kmeans_int8

    df = _renamed_fixture(spark, k=2, per=5)
    out = kmeans_int8(df, "item_id", "embedding", k=2, iters=1)
    assert out.columns[0] == "item_id"
    rows = out.collect()
    assert len(rows) == 10
    assert {r["item_id"] for r in rows} == set(range(10))


def test_rp_project_accepts_any_id_col(spark):
    from whisper_pandas_spark.operators.randproj import rp_project_int8

    df = _renamed_fixture(spark, k=2, per=5, dim=8)
    rows = rp_project_int8(df, "item_id", "embedding", 8, 4).collect()
    assert len(rows) == 10 and rows[0]["p"] is not None
    assert {r["item_id"] for r in rows} == set(range(10))


def test_pca_and_abtt_accept_any_id_col(spark):
    from whisper_pandas_spark.operators.pca import (
        abtt_correct,
        pca_top_component,
    )

    df = _renamed_fixture(spark, k=2, per=5, dim=8)
    p = pca_top_component(df, "item_id", "embedding", 8, iters=3).collect()
    assert len(p) == 10 and p[0]["eig"] > 0
    a = abtt_correct(df, "item_id", "embedding", 8, iters=3).collect()
    assert len(a) == 10 and len(a[0]["a"]) == 8


def test_same_result_under_either_id_name(spark):
    """The rename must not change values — only the label."""
    from whisper_pandas_spark.operators.kmeans import kmeans_int8

    df = _km_fixture(spark, k=2, per=5)
    base = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_int8(df, "vec_id", "embedding", k=2, iters=2).collect()
    }
    ren = {
        r["item_id"]: (r["cluster"], r["dist"])
        for r in kmeans_int8(
            df.withColumnRenamed("vec_id", "item_id"),
            "item_id",
            "embedding",
            k=2,
            iters=2,
        ).collect()
    }
    assert base == ren


# ---------------------------------------------------------------------------
# ADVICE (r12, low): HLL NULL contract — NULLs are not sketched
# (COUNT(DISTINCT) semantics), instead of hashing the bare 'hll0' prefix.
# ---------------------------------------------------------------------------


def test_hll_ignores_null_values(spark):
    from whisper_pandas_spark.operators.hll import (
        hll_estimate,
        hll_shard_sketches,
    )

    rows = [("g", str(i)) for i in range(40)] + [("g", None)] * 25
    df = spark.createDataFrame(rows, "grp string, val string")
    with_nulls = hll_estimate(
        hll_shard_sketches(df, ("grp",), "val"), ("grp",)
    ).collect()[0]
    without = hll_estimate(
        hll_shard_sketches(df.where(F.col("val").isNotNull()), ("grp",), "val"),
        ("grp",),
    ).collect()[0]
    assert with_nulls["est"] == without["est"]


# ---------------------------------------------------------------------------
# ADVICE (r12, low): power_iterate zero-Gram guard.
# ---------------------------------------------------------------------------


def test_power_iterate_zero_gram_raises():
    from whisper_pandas_spark.operators.pca import power_iterate

    with pytest.raises(ValueError, match="power iteration collapsed"):
        power_iterate([[0, 0], [0, 0]], iters=2)


# ---------------------------------------------------------------------------
# ADVICE (r12, low): KN coverage precondition is checkable.
# ---------------------------------------------------------------------------


def test_kn_assert_counts_cover(spark):
    from whisper_pandas_spark.operators.knlm import (
        assert_counts_cover,
        trigram_stream,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran")], "doc_id long, text string"
    )
    tri = trigram_stream(df, "doc_id", "text")
    full = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c123"))
    assert_counts_cover(tri, full)  # covering counts: no raise
    lagging = full.where(F.col("w3") != "sat")
    with pytest.raises(ValueError, match="coverage violated"):
        assert_counts_cover(tri, lagging)


# ---------------------------------------------------------------------------
# Round-13 hot-path rewrite: the C4 line rules moved from an interpreted
# higher-order filter() lambda to an Arrow batch pass. The SQL form is
# kept as _c4_line_filter_expr; both must be bit-equal.
# ---------------------------------------------------------------------------


def test_c4_arrow_matches_sql_expr(spark):
    from whisper_pandas_spark.operators.cleaning import (
        _c4_line_filter_expr,
        c4_line_filter,
    )

    docs = []
    for i in range(40):
        lines = []
        for j in range(8):
            words = ["w%d" % (i * 8 + j + k) for k in range((i + j) % 9)]
            suffix = [".", "!", "?", "", ";", '"'][(i + j) % 6]
            line = " " * (j % 3) + " ".join(words) + suffix
            if (i + j) % 7 == 3:
                line += " javascript required."
            if (i + j) % 11 == 5:
                line += " see our privacy policy."
            lines.append(line)
        if i % 13 == 4:
            lines.append("lorem ipsum dolor sit amet.")
        if i % 17 == 6:
            lines.append("code { sample } block.")
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["doc_kept"], r["clean_text"])
        for r in c4_line_filter(df, "doc_id", "text").collect()
    }
    b = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["doc_kept"], r["clean_text"])
        for r in _c4_line_filter_expr(df, "doc_id", "text").collect()
    }
    assert a == b
    assert any(v[2] for v in a.values()) and not all(v[2] for v in a.values())


def test_c4_arrow_nondefault_thresholds(spark):
    from whisper_pandas_spark.operators.cleaning import (
        _c4_line_filter_expr,
        c4_line_filter,
    )

    df = spark.createDataFrame(
        [(1, "one two three.\nalpha beta gamma delta.\nshort.")],
        "doc_id long, text string",
    )
    for mw, mk in ((2, 1), (3, 2), (4, 3)):
        a = c4_line_filter(df, "doc_id", "text", mw, mk).collect()[0]
        b = _c4_line_filter_expr(df, "doc_id", "text", mw, mk).collect()[0]
        assert tuple(a) == tuple(b), (mw, mk)


# ---------------------------------------------------------------------------
# text_compression_ratio (round-13 missing-#1): zlib quality gate.
# ---------------------------------------------------------------------------


def test_compression_ratio_property(spark):
    """Repeated text compresses far below 1; iid printable noise stays
    near 1 (and above the hi threshold); values equal the direct
    zlib computation with the shared rounding formula."""
    import math
    import random
    import zlib

    from whisper_pandas_spark.operators.compratio import (
        RATIO_HI,
        RATIO_LO,
        compression_ratio,
    )

    rng = random.Random(7)
    noise = "".join(chr(rng.randrange(0x21, 0x7F)) for _ in range(2000))
    rep = "all work and no play makes jack a dull boy. " * 50
    normal = " ".join(
        f"word{i} item{(i * i) % 1009} x{(i * 7919) % 4096:x}"
        for i in range(120)
    )
    df = spark.createDataFrame(
        [(1, rep), (2, noise), (3, normal), (4, "")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in compression_ratio(df, "doc_id", "text").collect()
    }
    assert rows[1]["too_repetitive"] and not rows[1]["too_random"]
    assert rows[1]["ratio"] < RATIO_LO < 0.5
    assert rows[2]["too_random"] and not rows[2]["too_repetitive"]
    assert rows[2]["ratio"] > RATIO_HI
    assert not rows[3]["too_repetitive"] and not rows[3]["too_random"]
    assert rows[4]["ratio"] is None and rows[4]["raw_len"] == 0
    assert not rows[4]["too_repetitive"] and not rows[4]["too_random"]
    for doc_id, text in ((1, rep), (2, noise), (3, normal)):
        b = text.encode("utf-8")
        c = len(zlib.compress(b, 6))
        assert rows[doc_id]["raw_len"] == len(b)
        assert rows[doc_id]["comp_len"] == c
        assert rows[doc_id]["ratio"] == math.floor(
            c / len(b) * 1000000 + 0.5
        ) / 1000000


def test_compression_ratio_nondefault_thresholds(spark):
    from whisper_pandas_spark.operators.compratio import compression_ratio

    df = spark.createDataFrame(
        [(1, "abc " * 100)], "doc_id long, text string"
    )
    r = compression_ratio(df, "doc_id", "text", lo=0.0, hi=0.01).collect()[0]
    assert not r["too_repetitive"] and r["too_random"]


# ---------------------------------------------------------------------------
# dedup_duplicate_spans_bytes (round-13 missing-#3): byte-level
# ExactSubstr.
# ---------------------------------------------------------------------------


def test_byte_spans_roundtrip_when_unique(spark):
    """A corpus with no repeated window-length byte run round-trips to
    its own hex image with nothing removed."""
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    docs = [(i, f"unique document number {i} with words {i * 7} {i * 13}")
            for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           duplicate_span_removal_bytes(df, "doc_id", "text", 24).collect()}
    for i, text in docs:
        b = text.encode("utf-8")
        assert out[i]["n_bytes"] == len(b)
        assert out[i]["n_removed"] == 0
        assert out[i]["text_dedup_hex"] == b.hex().upper()


def test_byte_spans_cut_second_occurrence(spark):
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    shared = "this exact sentence is duplicated across both documents"
    df = spark.createDataFrame(
        [(1, f"first doc says {shared} and more"),
         (2, f"second doc also says {shared} differently")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           duplicate_span_removal_bytes(df, "doc_id", "text", 24).collect()}
    assert out[1]["n_removed"] == 0  # first occurrence keeps its bytes
    assert out[2]["n_removed"] >= len(shared.encode()) - 23
    kept2 = bytes.fromhex(out[2]["text_dedup_hex"])
    assert shared.encode() not in kept2


def test_byte_spans_catch_cross_tokenization_dup(spark):
    """The documented gap the byte form closes: a duplicated run INSIDE
    single long tokens (or shorter in words than the word window) is
    invisible to the word-token form but cut by the byte form."""
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal,
        duplicate_span_removal_bytes,
    )

    run = "sharedlongrunofbytesinsideoneword0123456789"
    df = spark.createDataFrame(
        [(1, f"alpha {run} beta"), (2, f"gamma {run} delta epsilon")],
        "doc_id long, text string",
    )
    word = {r["doc_id"]: r["n_removed"]
            for r in duplicate_span_removal(df, "doc_id", "text", 8).collect()}
    assert word == {1: 0, 2: 0}  # 3-5 words: no 8-token window exists
    byte = {r["doc_id"]: r["n_removed"]
            for r in duplicate_span_removal_bytes(
                df, "doc_id", "text", 24).collect()}
    assert byte[1] == 0 and byte[2] >= len(run) - 23


def test_byte_spans_window_validation(spark):
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="window"):
        duplicate_span_removal_bytes(df, "doc_id", "text", 1)


# ---------------------------------------------------------------------------
# pipeline_multimodal_curation (round-13 missing-#2): both faces gate.
# ---------------------------------------------------------------------------


def test_multimodal_curation_funnel(spark):
    from whisper_pandas_spark.registry import QUERIES

    rows = QUERIES["pipeline_multimodal_curation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r["pair_id"]: r for r in rows}
    b_pairs = [r for r in rows if r["pair_id"] >= 1_000_000]
    a_pairs = [r for r in rows if r["pair_id"] < 1_000_000]
    assert b_pairs and a_pairs
    # every B image is a near-dup of its lower-id base twin -> never
    # canonical -> no B pair survives
    assert all(not r["img_kept"] for r in b_pairs)
    assert all(not r["kept"] for r in b_pairs)
    # caption face: B loses exactly in the % 3 == 0 stratum
    for r in b_pairs:
        src = r["pair_id"] - 1_000_000
        assert r["cap_kept"] == (src % 3 != 0), r
    # kept is the conjunction of the two faces, and some A pairs survive
    assert all(r["kept"] == (r["img_kept"] and r["cap_kept"]) for r in rows)
    assert any(r["kept"] for r in a_pairs)
    # A captions are first occurrences -> cap face always survives
    assert all(r["cap_kept"] for r in a_pairs)
    assert len(by_id) == len(rows)  # pair ids unique


# ---------------------------------------------------------------------------
# Round-13 lang-ID hot-path rewrite: Arrow classification must equal the
# all-SQL fused formulation bit-for-bit.
# ---------------------------------------------------------------------------


def _langid_rows():
    rows = []
    for i in range(60):
        lang = ["en", "de", "fr"][i % 3]
        base = {
            "en": "the quick brown fox jumps over the lazy dog and then",
            "de": "der schnelle braune fuchs springt ueber den faulen hund",
            "fr": "le rapide renard brun saute par dessus le chien paresseux",
        }[lang]
        rows.append((i, lang, f"{base} variant {i} token{i * 7}"))
    return rows


def test_langid_arrow_matches_sql(spark):
    from whisper_pandas_spark.operators.langid import (
        _train_and_classify_sql,
        train_and_classify,
    )

    rows = _langid_rows()
    rows.append((60, "en", ""))  # gram-less doc: drops on both paths
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = {
        r["doc_id"]: (r["pred_lang"], r["lang_dist"])
        for r in train_and_classify(df, "doc_id", "lang", "text", k=25).collect()
    }
    b = {
        r["doc_id"]: (r["pred_lang"], r["lang_dist"])
        for r in _train_and_classify_sql(
            df, "doc_id", "lang", "text", k=25
        ).collect()
    }
    assert a == b
    assert 60 not in a  # the empty doc produced no grams
    assert len(a) == 60


def test_langid_null_doc_id_is_an_ordinary_document(spark):
    """A NULL doc id neither marks a profile row nor loses the document:
    the corpus trains the same profiles as with that document under a
    fresh id (so every other document keeps its exact distance), and
    the NULL-id document is classified once, like its fresh-id twin."""
    from whisper_pandas_spark.operators.langid import train_and_classify

    odd = "der faule hund schlaeft unter dem grossen tisch im garten"

    def run(extra_id):
        df = spark.createDataFrame(
            _langid_rows() + [(extra_id, "de", odd)],
            "doc_id long, lang string, text string",
        )
        return [
            (r["doc_id"], r["pred_lang"], r["lang_dist"])
            for r in train_and_classify(
                df, "doc_id", "lang", "text", k=25
            ).collect()
        ]

    with_null = run(None)
    fresh = {d: (p, s) for d, p, s in run(999)}
    nulls = [(p, s) for d, p, s in with_null if d is None]
    assert nulls == [fresh.pop(999)]
    assert nulls[0][0] is not None
    assert {d: (p, s) for d, p, s in with_null if d is not None} == fresh


# ---------------------------------------------------------------------------
# Randomized brute-force twin for the byte-level ExactSubstr: winner
# election, interval merge, and complement reassembly re-derived
# directly in Python over random corpora with PLANTED byte-level
# duplicates.
# ---------------------------------------------------------------------------


def _byte_spans_brute(texts: dict[int, str], window: int):
    """Direct Python replication of duplicate_span_removal_bytes."""
    occ: dict[bytes, list[tuple[int, int]]] = {}
    bs = {i: t.encode("utf-8") for i, t in texts.items()}
    for i in sorted(bs):
        b = bs[i]
        for q in range(len(b) - window + 1):
            occ.setdefault(b[q : q + window], []).append((i, q))
    removed: dict[int, set[int]] = {i: set() for i in bs}
    for positions in occ.values():
        if len(positions) <= 1:
            continue
        winner = min(positions)
        for i, q in positions:
            if (i, q) != winner:
                removed[i].update(range(q, q + window))
    out = {}
    for i, b in bs.items():
        kept = bytes(c for p, c in enumerate(b) if p not in removed[i])
        out[i] = (len(b), len(removed[i]), kept.hex().upper())
    return out


def test_byte_spans_matches_bruteforce_random(spark):
    import random

    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    rng = random.Random(131)
    words = [f"w{j}" for j in range(50)]
    planted = [
        "this planted sentence repeats across several documents verbatim",
        "another shared run of bytes that is long enough to window",
    ]
    texts = {}
    for i in range(30):
        parts = [words[rng.randrange(50)] for _ in range(rng.randrange(3, 12))]
        if i % 4 == 1:
            parts.insert(rng.randrange(len(parts)), planted[0])
        if i % 5 == 2:
            parts.append(planted[1])
        texts[i] = " ".join(parts)
    texts[30] = ""  # empty doc
    texts[31] = "tiny"  # shorter than the window
    df = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    for window in (16, 24, 40):
        got = {
            r["doc_id"]: (r["n_bytes"], r["n_removed"], r["text_dedup_hex"])
            for r in duplicate_span_removal_bytes(
                df, "doc_id", "text", window
            ).collect()
        }
        assert got == _byte_spans_brute(texts, window), window


def test_byte_spans_overlapping_windows_merge(spark):
    """Overlapping loser windows must merge through interval union —
    a doc that is one long repeat of another loses its whole run, not
    window-aligned fragments."""
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    base = "abcdefghijklmnopqrstuvwxyz0123456789" * 3  # 108 bytes
    df = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           duplicate_span_removal_bytes(df, "doc_id", "text", 24).collect()}
    # doc 1: within-doc repeats also elect winners; doc 2 loses everything
    assert out[2]["n_removed"] == len(base)
    assert out[2]["text_dedup_hex"] == ""


# ---------------------------------------------------------------------------
# Span corruption at NON-DEFAULT block/span parameters — the Arrow
# rewrite's block-slicing must track the brute force for every geometry,
# not just T5's (20, 3).
# ---------------------------------------------------------------------------


def test_span_corrupt_nondefault_params_match_bruteforce(spark):
    import random

    from tests.test_round12b import _span_brute
    from whisper_pandas_spark.operators.spancorrupt import span_corrupt

    rng = random.Random(41)
    words = "aa bb cc dd ee".split()
    docs = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 45))))
        for i in range(15)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for block, span in ((8, 2), (5, 4), (12, 1)):
        got = {
            r["doc_id"]: r
            for r in span_corrupt(
                df, "doc_id", "text", block=block, span_len=span
            ).collect()
        }
        for did, text in docs:
            n, nm, inp, tgt = _span_brute(did, text, block, span)
            r = got[did]
            assert (
                r["n_tokens"],
                r["n_masked"],
                r["input_text"],
                r["target_text"],
            ) == (n, nm, inp, tgt), (block, span, did)
