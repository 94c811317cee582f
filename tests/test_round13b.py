"""Round-13b tests: lexical entropy, DSIR weights, temperature
rebalancing, streaming bottom-k sample, SemDeDup."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# operators/lexical.py — token_entropy
# ---------------------------------------------------------------------------


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_entropy_golden(spark):
    from whisper_pandas_spark.operators.lexical import token_entropy

    rows = {
        r["doc_id"]: r
        for r in token_entropy(
            _docs(spark, ["a a b", "a b c d", "x x x x"]), "doc_id", "text"
        ).collect()
    }
    r0 = rows[0]  # counts {a:2, b:1}, n=3
    assert (r0["n_tokens"], r0["n_types"]) == (3, 2)
    h = math.log2(3) - (2 * math.log2(2) + 1 * math.log2(1)) / 3
    assert r0["entropy"] == round(h + 1e-9, 6)
    assert r0["ttr"] == round(2 / 3 + 1e-9, 6)
    assert r0["simpson"] == round(5 / 9 + 1e-9, 6)
    r1 = rows[1]  # uniform: H = log2(4) = 2 bits exactly
    assert (r1["entropy"], r1["ttr"], r1["simpson"]) == (2.0, 1.0, 0.25)
    r2 = rows[2]  # degenerate: one type
    assert (r2["entropy"], r2["ttr"], r2["simpson"]) == (0.0, 0.25, 1.0)


def test_entropy_matches_python_reference(spark):
    """Independent per-doc recompute (collections.Counter + math.log2)
    over mixed-case/punctuated docs — same tokenize contract."""
    import collections
    import re

    from whisper_pandas_spark.operators.lexical import token_entropy

    texts = [
        "The cat sat; the CAT ran!",
        "alpha beta beta GAMMA gamma gamma delta-9",
        "one",
    ]
    out = {
        r["doc_id"]: r
        for r in token_entropy(_docs(spark, texts), "doc_id", "text").collect()
    }
    for i, t in enumerate(texts):
        toks = [
            x
            for x in re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")
            if x
        ]
        c = collections.Counter(toks)
        n = sum(c.values())
        h = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
        assert out[i]["n_tokens"] == n
        assert out[i]["n_types"] == len(c)
        assert out[i]["entropy"] == pytest.approx(h, abs=2e-6)
        assert out[i]["simpson"] == pytest.approx(
            sum(v * v for v in c.values()) / n**2, abs=2e-6
        )


def test_log2_table_pins_reprs():
    from whisper_pandas_spark.operators.lexical import (
        LOG2_MAX,
        log2_table,
        log2_values_sql,
    )

    t = log2_table()
    assert len(t) == LOG2_MAX and t[0] == (1, 0.0) and t[1] == (2, 1.0)
    # repr round trip is exact — the cross-engine bit-identity premise
    for i, v in t[:50]:
        assert float(repr(v)) == v
    assert log2_values_sql().startswith("(1,0.0),(2,1.0),")


# ---------------------------------------------------------------------------
# operators/dsir.py — dsir_weights
# ---------------------------------------------------------------------------


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(f"dsir:{tok}".encode()).hexdigest()[:15], 16) % 256


def test_dsir_matches_python_reference(spark):
    from whisper_pandas_spark.operators.dsir import dsir_weights

    target = ["alpha alpha beta", "alpha gamma alpha"]
    raw_only = ["delta delta epsilon", "zeta delta eta", "alpha delta"]
    df = spark.createDataFrame(
        [(i, t, True) for i, t in enumerate(target)]
        + [(len(target) + i, t, False) for i, t in enumerate(raw_only)],
        "doc_id long, text string, is_target boolean",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            df, "doc_id", "text", F.col("is_target")
        ).collect()
    }

    # python reference model
    import collections

    ct_t: collections.Counter = collections.Counter()
    ct_r: collections.Counter = collections.Counter()
    docs = [(i, t, True) for i, t in enumerate(target)] + [
        (len(target) + i, t, False) for i, t in enumerate(raw_only)
    ]
    for _, t, is_t in docs:
        for tok in t.split():
            b = _py_bucket(tok)
            ct_r[b] += 1
            if is_t:
                ct_t[b] += 1
    tt, tr = sum(ct_t.values()), sum(ct_r.values())
    for i, t, _ in docs:
        score = sum(
            math.log(ct_t[_py_bucket(tok)] + 1)
            - math.log(tt + 256)
            - math.log(ct_r[_py_bucket(tok)] + 1)
            + math.log(tr + 256)
            for tok in t.split()
        )
        assert out[i]["n_tokens"] == len(t.split())
        assert out[i]["dsir_logratio"] == pytest.approx(score, abs=2e-6)
    # target-vocabulary docs must outscore raw-only-vocabulary docs
    assert min(out[0]["dsir_logratio"], out[1]["dsir_logratio"]) > max(
        out[2]["dsir_logratio"], out[3]["dsir_logratio"]
    )


def test_dsir_empty_token_doc_scores_zero(spark):
    from whisper_pandas_spark.operators.dsir import dsir_weights

    df = spark.createDataFrame(
        [(0, "real words here", "en"), (1, "!!! ??? ...", "de")],
        "doc_id long, text string, lang string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            df, "doc_id", "text", F.col("lang") == "en"
        ).collect()
    }
    assert out[1]["n_tokens"] == 0 and out[1]["dsir_logratio"] == 0.0
    assert out[0]["n_tokens"] == 3


# ---------------------------------------------------------------------------
# operators/sampling.py — temperature_rebalance
# ---------------------------------------------------------------------------


def _py_u(doc_id: int, seed: int = 0) -> int:
    return int(
        hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16
    )


def test_temperature_rebalance_rates_and_gate(spark):
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    # 160 'en' docs vs 10 'zh' docs
    rows = [(i, "en" if i < 160 else "zh") for i in range(170)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_rebalance(
        df, "lang", "doc_id", n_target=40, seed=3
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # python reference rates (fold order = sorted lang names)
    s = 0.0
    for c in [160.0, 10.0][::-1]:  # en < zh alphabetically -> en first
        pass
    s = math.sqrt(160.0) + math.sqrt(10.0)
    rate_en = min(1.0, 40.0 * (math.sqrt(160.0) / s) / 160.0)
    rate_zh = min(1.0, 40.0 * (math.sqrt(10.0) / s) / 10.0)
    assert rate_zh > rate_en  # sqrt-temperature boosts the tail language
    assert by_lang["en"][0]["sample_rate"] == round(rate_en + 1e-9, 6)
    assert by_lang["zh"][0]["sample_rate"] == round(rate_zh + 1e-9, 6)
    for r in out:
        rate = rate_en if r["lang"] == "en" else rate_zh
        assert r["kept"] == (
            float(_py_u(r["doc_id"], 3)) < rate * float(1 << 32)
        )


def test_temperature_rebalance_big_target_keeps_all(spark):
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(20)],
        "doc_id long, lang string",
    )
    out = temperature_rebalance(df, "lang", "doc_id", n_target=1000).collect()
    assert all(r["kept"] for r in out)
    assert all(r["sample_rate"] == 1.0 for r in out)


def test_temperature_rebalance_rejects_negative_target(spark):
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    df = spark.createDataFrame([(0, "en")], "doc_id long, lang string")
    with pytest.raises(ValueError):
        temperature_rebalance(df, "lang", "doc_id", n_target=-1)


# ---------------------------------------------------------------------------
# streaming/sketches.py — stream_bottomk_update
# ---------------------------------------------------------------------------


def test_stream_bottomk_merge_law_and_idempotence(spark, tmp_path):
    """Three micro-batches with OVERLAPPING keys, replayed twice with a
    fresh checkpoint: the final state must equal the direct batch
    bottom-k (set-merge law + idempotence)."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_bottomk_update

    rows = [("g1", i) for i in range(30)] + [("g2", i) for i in range(7)]
    df = spark.createDataFrame(rows, "grp string, doc_id long")
    d = str(tmp_path)
    # batches overlap: ids 0..14, 10..24, 20..29+g2 (dups across batches)
    df.filter((F.col("grp") == "g1") & (F.col("doc_id") < 15)).coalesce(
        1
    ).write.parquet(f"{d}/ch/f1")
    df.filter(
        (F.col("grp") == "g1")
        & (F.col("doc_id") >= 10)
        & (F.col("doc_id") < 25)
    ).coalesce(1).write.parquet(f"{d}/ch/f2")
    df.filter((F.col("doc_id") >= 20) | (F.col("grp") == "g2")).coalesce(
        1
    ).write.parquet(f"{d}/ch/f3")

    def run_pass(ckpt):
        sdf = (
            spark.readStream.schema("grp string, doc_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/ch/*")
        )
        q = stream_bottomk_update(
            sdf, f"{d}/state", ("grp",), "doc_id", k=5, checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        q.stop()

    run_pass(f"{d}/ck1")
    run_pass(f"{d}/ck2")  # full reprocess: harmless by idempotence

    state = spark.read.parquet(current_version_path(f"{d}/state"))
    got = {
        (r["grp"], r["doc_id"], r["h"])
        for r in state.collect()
    }
    # brute force: bottom-5 per group by (md5 hash, id)
    want = set()
    for g, n in (("g1", 30), ("g2", 7)):
        hs = sorted((_py_u(i), i) for i in range(n))
        want |= {(g, i, h) for h, i in hs[:5]}
    assert got == want
    # g2 has 7 members -> exactly 5 kept; no group exceeds k
    per = {}
    for g, *_ in got:
        per[g] = per.get(g, 0) + 1
    assert per == {"g1": 5, "g2": 5}


# ---------------------------------------------------------------------------
# operators/semdedup.py
# ---------------------------------------------------------------------------


def _sd_fixture(spark):
    """8 base vectors in 2 obvious direction families + 1 exact copy +
    1 small perturbation + 1 orthogonal singleton."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(4):  # family A ~ +e0
        v = np.r_[1.0, rng.uniform(-0.05, 0.05, 7)]
        rows.append((i, [float(x) for x in v]))
    for i in range(4, 8):  # family B ~ +e1
        v = np.r_[0.0, 1.0, rng.uniform(-0.05, 0.05, 6)]
        rows.append((i, [float(x) for x in v]))
    rows.append((100, list(rows[0][1])))  # exact copy of id 0
    pert = list(rows[4][1])
    pert[7] += 0.01  # tiny nudge on family-B member id 4
    rows.append((101, pert))
    rows.append((102, [0.0] * 7 + [1.0]))  # orthogonal singleton
    return spark.createDataFrame(rows, "vec_id long, e array<double>")


def test_semdedup_drops_planted_dups_keeps_singleton(spark):
    from whisper_pandas_spark.operators.semdedup import semdedup

    out = {
        r["vec_id"]: r
        for r in semdedup(
            _sd_fixture(spark), "vec_id", "e", k=3, iters=2
        ).collect()
    }
    assert len(out) == 11
    assert out[0]["kept"] is True  # canonical (min id)
    assert out[100]["kept"] is False  # exact copy, larger id
    assert out[101]["kept"] is False  # near copy of id 4
    assert out[4]["kept"] is True
    assert out[102]["kept"] is True  # orthogonal: no neighbor
    # dup pairs land in the same cluster as their canonicals
    assert out[100]["cluster"] == out[0]["cluster"]
    assert out[101]["cluster"] == out[4]["cluster"]


def test_semdedup_matches_python_bruteforce(spark):
    """Independent replication: python quantization + Lloyd's with the
    operator's documented init/tie/update rules + exact-integer gate."""
    import numpy as np

    from whisper_pandas_spark.operators.semdedup import (
        THETA_DEN,
        THETA_NUM,
        semdedup,
    )

    df = _sd_fixture(spark)
    rows = sorted(
        ((r["vec_id"], list(r["e"])) for r in df.collect()),
        key=lambda x: x[0],
    )
    ids = [i for i, _ in rows]
    k, iters = 3, 2

    def quant(v):
        s = max(abs(x) for x in v)
        if s == 0:
            return [0] * len(v)
        return [math.floor(x / s * 127.0 + 0.5) for x in v]

    q = {i: quant(v) for i, v in rows}
    cents = [list(q[i]) for i in ids[:k]]

    def assign():
        out = {}
        for i in ids:
            d = [
                sum((a - b) ** 2 for a, b in zip(q[i], c)) for c in cents
            ]
            out[i] = d.index(min(d))  # first min = lowest cluster id
        return out

    for _ in range(iters):
        a = assign()
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for i, cl in a.items():
            counts[cl] = counts.get(cl, 0) + 1
            s = sums.setdefault(cl, [0] * len(q[i]))
            for dth, val in enumerate(q[i]):
                s[dth] += val
        for cl, s in sums.items():
            cents[cl] = [math.floor(x / counts[cl]) for x in s]
    a = assign()

    kept = {}
    for j in ids:
        dropped = False
        for i in ids:
            if i >= j or a[i] != a[j]:
                continue
            dot = sum(x * y for x, y in zip(q[i], q[j]))
            na = sum(x * x for x in q[i])
            nb = sum(x * x for x in q[j])
            if dot > 0 and dot * dot * THETA_DEN >= THETA_NUM * na * nb:
                dropped = True
                break
        kept[j] = not dropped

    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semdedup(df, "vec_id", "e", k=k, iters=iters).collect()
    }
    assert {i: v[1] for i, v in got.items()} == kept
    assert {i: v[0] for i, v in got.items()} == a


def test_semdedup_accepts_any_id_col(spark):
    from whisper_pandas_spark.operators.semdedup import semdedup

    df = _sd_fixture(spark).withColumnRenamed("vec_id", "item_id")
    out = semdedup(df, "item_id", "e", k=2, iters=1)
    assert out.columns == ["item_id", "cluster", "kept"]
    assert out.count() == 11


# ---------------------------------------------------------------------------
# text_dsir_resample — selection semantics
# ---------------------------------------------------------------------------


def test_dsir_resample_prefers_high_ratio_docs(spark):
    """The resample must SKEW toward high-log-ratio documents: the mean
    score of the selected set exceeds the corpus mean. (The synthetic
    corpus shares its vocabulary across languages, so the target/raw
    separation is real but small — the correct assertion is selection
    skew, not absolute sign.)"""
    from pyspark.sql import functions as F2

    from whisper_pandas_spark.operators.dsir import dsir_weights
    from whisper_pandas_spark.registry import QUERIES

    rows = QUERIES["text_dsir_resample"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 100
    assert len({r["doc_id"] for r in rows}) == 100  # without replacement
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    all_scores = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(
            docs, "doc_id", "text", F2.col("lang") == "en"
        ).collect()
    }
    mean_all = sum(all_scores.values()) / len(all_scores)
    mean_sel = sum(r["dsir_logratio"] for r in rows) / len(rows)
    assert mean_sel > mean_all + 0.05


def test_dsir_resample_plan_is_topk(spark):
    from whisper_pandas_spark.plans.inspect import formatted_plan
    from whisper_pandas_spark.registry import QUERIES

    plan = formatted_plan(
        QUERIES["text_dsir_resample"](spark, "/root/testdata/sf0.001")
    )
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# hypothesis properties
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SPARKY = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_token = st.text(alphabet="abcxyz0", min_size=1, max_size=3)


@_SPARKY
@given(docs=st.lists(st.lists(_token, min_size=1, max_size=12),
                     min_size=1, max_size=6))
def test_entropy_property_matches_counter(spark, docs):
    import collections

    from whisper_pandas_spark.operators.lexical import token_entropy

    texts = [" ".join(toks) for toks in docs]
    out = {
        r["doc_id"]: r
        for r in token_entropy(_docs(spark, texts), "doc_id", "text").collect()
    }
    for i, toks in enumerate(docs):
        c = collections.Counter(toks)
        n = sum(c.values())
        h = math.log2(n) - sum(v * math.log2(v) for v in c.values()) / n
        assert out[i]["n_tokens"] == n
        assert out[i]["n_types"] == len(c)
        assert out[i]["entropy"] == pytest.approx(h, abs=2e-6)
        assert out[i]["ttr"] == pytest.approx(len(c) / n, abs=2e-6)
        assert out[i]["simpson"] == pytest.approx(
            sum(v * v for v in c.values()) / n**2, abs=2e-6
        )


@_SPARKY
@given(
    sizes=st.dictionaries(
        st.sampled_from(["de", "en", "es", "fr", "zh"]),
        st.integers(min_value=1, max_value=12),
        min_size=2,
        max_size=5,
    ),
    n_target=st.integers(min_value=0, max_value=30),
    seed=st.integers(min_value=0, max_value=3),
)
def test_temperature_property_matches_python(spark, sizes, n_target, seed):
    from whisper_pandas_spark.operators.sampling import temperature_rebalance

    rows, i = [], 0
    for lang in sorted(sizes):
        for _ in range(sizes[lang]):
            rows.append((i, lang))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_rebalance(
        df, "lang", "doc_id", n_target=n_target, seed=seed
    ).collect()
    assert len(out) == len(rows)
    s = 0.0
    for lang in sorted(sizes):  # the operator's fold order
        s += math.sqrt(float(sizes[lang]))
    for r in out:
        c = float(sizes[r["lang"]])
        rate = min(1.0, float(n_target) * (math.sqrt(c) / s) / c)
        assert r["sample_rate"] == round(rate + 1e-9, 6)
        assert r["kept"] == (
            float(_py_u(r["doc_id"], seed)) < rate * float(1 << 32)
        )


@settings(max_examples=200, deadline=None)
@given(
    a=st.lists(st.integers(min_value=-127, max_value=127),
               min_size=8, max_size=8),
    b=st.lists(st.integers(min_value=-127, max_value=127),
               min_size=8, max_size=8),
)
def test_semdedup_gate_matches_exact_rational(a, b):
    """The numpy int64 gate used inside the cell pass must agree with
    exact-rational cosine^2 >= 9409/10000 on every input (overflow /
    sign-handling detector; pure python, no Spark)."""
    from fractions import Fraction

    import numpy as np

    from whisper_pandas_spark.operators.semdedup import THETA_DEN, THETA_NUM

    qa = np.asarray(a, dtype=np.int64)
    qb = np.asarray(b, dtype=np.int64)
    dot = int(qa @ qb)
    na = int(qa @ qa)
    nb = int(qb @ qb)
    got = dot > 0 and dot * dot * THETA_DEN >= THETA_NUM * na * nb
    if na == 0 or nb == 0:
        assert got is False  # zero vector: dot = 0 fails dot > 0
        return
    want = dot > 0 and Fraction(dot * dot, na * nb) >= Fraction(
        THETA_NUM, THETA_DEN
    )
    assert got == want


# ---------------------------------------------------------------------------
# layout_partition_prune — directory pruning proof
# ---------------------------------------------------------------------------


def test_partition_prune_plan_and_guard(spark, sf_dir):
    from whisper_pandas_spark.plans.inspect import partition_filters
    from whisper_pandas_spark.registry import QUERIES

    df = QUERIES["layout_partition_prune"](spark, sf_dir)
    rows = df.collect()
    assert 1 <= len(rows) <= 10 and all(r["n"] > 0 for r in rows)
    # the helper itself: a filtered read of the materialized layout
    # must carry the directory predicate
    import whisper_pandas_spark.queries_materialize as qm
    from pyspark.sql import functions as F2

    d = qm._partitioned_events(spark, sf_dir)
    q = spark.read.parquet(d).filter(F2.col("ts_date") == "2024-01-04")
    pf = " ".join(partition_filters(q))
    assert "ts_date" in pf and "2024-01-04" in pf
    # an unfiltered read has no partition filter — the guard would raise
    assert partition_filters(spark.read.parquet(d)) == []


# ---------------------------------------------------------------------------
# pipeline_curation_end_to_end — funnel semantics
# ---------------------------------------------------------------------------


def test_curation_funnel_stage_populations(spark):
    """Every planted failure population must fail at ITS stage: spam
    docs at the entropy gate, buddy-dup docs at dedup (the buddy with
    the smaller id stays canonical), email docs counted as PII but not
    gated; kept implies all upstream gates."""
    from whisper_pandas_spark.registry import QUERIES

    rows = {
        r["doc_id"]: r
        for r in QUERIES["pipeline_curation_end_to_end"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert len(rows) == 500
    spam = [r for i, r in rows.items() if i % 31 == 7 and i % 20 != 1]
    assert spam and all(not r["entropy_ok"] for r in spam)
    dups = [
        r
        for i, r in rows.items()
        if i % 20 == 1 and i > 0 and rows[i - 1]["entropy_ok"]
    ]
    # a dup whose buddy survived the entropy gate must lose dedup
    assert dups and all(
        r["entropy_ok"] and not r["is_canonical"] for r in dups
    )
    pii = [r for i, r in rows.items() if i % 5 == 2 and i % 20 != 1]
    assert pii and all(r["pii_found"] for r in pii)
    # redaction happens BEFORE the entropy gate: an appended email must
    # not fail a doc (emails redact to one token)
    assert sum(1 for r in pii if r["entropy_ok"]) > len(pii) * 0.8
    for r in rows.values():
        if r["kept"]:
            assert r["entropy_ok"] and r["is_canonical"]
            assert r["sample_rate"] > 0.0
        if not (r["entropy_ok"] and r["is_canonical"]):
            assert r["sample_rate"] == 0.0 and not r["kept"]


# ---------------------------------------------------------------------------
# sources/warc.py
# ---------------------------------------------------------------------------


def test_warc_roundtrip_plain_and_gzip(spark, tmp_path):
    import glob
    import gzip as _gz

    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    df = spark.createDataFrame(
        [(i, f"document body {i} with unicode é中") for i in range(20)],
        "doc_id long, text string",
    )
    for comp in ("none", "gzip"):
        d = str(tmp_path / comp)
        write_warc(df, d, "doc_id", "text", num_files=3, compression=comp)
        rows = {
            int(r["record_id"].removeprefix("doc-")): r
            for r in read_warc(spark, d).collect()
        }
        assert len(rows) == 20
        for i in range(20):
            r = rows[i]
            assert r["warc_type"] == "response"
            assert r["http_status"] == 200
            assert r["body"] == f"document body {i} with unicode é中"
            assert r["target_uri"] == f"http://corpus.example/doc/{i}"
    # CC convention: gzip files are CONCATENATED members, one per record
    gz = sorted(glob.glob(str(tmp_path / "gzip" / "*.warc.gz")))
    assert len(gz) == 3
    blob = open(gz[0], "rb").read()
    assert blob.count(b"\x1f\x8b\x08") >= 2  # multiple members
    assert _gz.decompress(blob).startswith(b"WARC/1.0\r\n")


def test_warc_offsets_and_determinism(spark, tmp_path):
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    df = spark.createDataFrame(
        [(i, "x" * (i + 1)) for i in range(9)], "doc_id long, text string"
    )
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(df, d1, "doc_id", "text", num_files=2)
    write_warc(df.repartition(5), d2, "doc_id", "text", num_files=2)
    b1 = sorted(
        (p.name, p.read_bytes()) for p in (tmp_path / "a").iterdir()
    )
    b2 = sorted(
        (p.name, p.read_bytes()) for p in (tmp_path / "b").iterdir()
    )
    assert b1 == b2  # byte-stable under any input partitioning
    per_file = {}
    for r in read_warc(spark, d1).collect():
        per_file.setdefault(r["warc_file"], []).append(r["record_offset"])
    assert len(per_file) == 2
    for offs in per_file.values():
        assert offs == sorted(offs) and len(set(offs)) == len(offs)


def test_warc_malformed_raises(spark, tmp_path):
    from whisper_pandas_spark.sources.warc import read_warc

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "x.warc").write_bytes(b"NOT-A-WARC\r\n\r\npayload\r\n\r\n")
    with pytest.raises(Exception, match="WARC"):
        read_warc(spark, str(bad)).collect()


def test_warc_mixed_record_types(spark, tmp_path):
    from whisper_pandas_spark.sources.warc import (
        _build_record,
        read_warc,
    )

    d = tmp_path / "mix"
    d.mkdir()
    blob = _build_record(
        "warcinfo", "info-1", None, "2024-01-01T00:00:00Z",
        b"software: wps\r\n", http=False,
    ) + _build_record(
        "response", "doc-7", "http://corpus.example/doc/7",
        "2024-01-01T00:00:00Z", "seven".encode(), http=True,
    )
    (d / "m.warc").write_bytes(blob)
    rows = sorted(
        read_warc(spark, str(d)).collect(), key=lambda r: r["record_offset"]
    )
    assert [r["warc_type"] for r in rows] == ["warcinfo", "response"]
    assert rows[0]["body"] is None and rows[0]["http_status"] is None
    assert rows[1]["body"] == "seven" and rows[1]["http_status"] == 200


def test_warc_wet_conversion_records(spark, tmp_path):
    """WET layout: `conversion` records carry the extracted text as the
    raw payload (no HTTP envelope) — body must surface directly."""
    from whisper_pandas_spark.sources.warc import _build_record, read_warc

    d = tmp_path / "wet"
    d.mkdir()
    blob = b""
    for i in range(3):
        rec = _build_record(
            "conversion", f"wet-{i}", f"http://corpus.example/doc/{i}",
            "2024-01-01T00:00:00Z", f"extracted text {i}".encode(),
            http=False,
        )
        blob += rec
    (d / "x.warc").write_bytes(blob)
    rows = sorted(read_warc(spark, str(d)).collect(), key=lambda r: r["record_offset"])
    assert [r["body"] for r in rows] == [f"extracted text {i}" for i in range(3)]
    assert all(r["http_status"] is None for r in rows)
    assert all(r["warc_type"] == "conversion" for r in rows)


def test_entropy_over_domain_doc_surfaces_null(spark):
    """A document past LOG2_MAX tokens must KEEP its row: entropy NULL
    (both lookups left-join, fold propagates NULL), log2-free columns
    still exact — never a silent drop."""
    from whisper_pandas_spark.operators.lexical import LOG2_MAX, token_entropy

    big = " ".join(f"w{i}" for i in range(LOG2_MAX + 88))
    out = {
        r["doc_id"]: r
        for r in token_entropy(
            _docs(spark, ["a a b", big]), "doc_id", "text"
        ).collect()
    }
    assert len(out) == 2
    r = out[1]
    assert r["n_tokens"] == LOG2_MAX + 88
    assert r["n_types"] == LOG2_MAX + 88
    assert r["entropy"] is None
    assert r["ttr"] == 1.0
    assert r["simpson"] == pytest.approx(1 / (LOG2_MAX + 88), abs=1e-6)
    assert out[0]["entropy"] is not None  # in-domain doc unaffected
