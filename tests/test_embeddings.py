"""int8 quantization family (operators/embeddings.py): parity of the
quantized ANN ranking against an independent float ground truth, and the
analytic reconstruction-error bound the codes must satisfy."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.embeddings import int8_topk, quantize_int8
from whisper_pandas_spark.sources.tables import load_table

K = 10


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    df = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    rows = df.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def test_quantize_reconstruction_within_int8_bound(spark, sf_dir):
    # |v_i - q_i * s / 127| <= s/254 by construction of floor(x+0.5);
    # in micro units: err_micro_max <= scale_micro/254 (+ float slack).
    emb = load_table(spark, "embeddings", sf_dir)
    out = quantize_int8(emb, "vec_id", "embedding").collect()
    assert len(out) > 0
    for r in out:
        assert r["err_micro_max"] <= r["scale_micro"] / 254.0 + 5.0


def test_quantize_codes_match_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    emb = load_table(spark, "embeddings", sf_dir)
    got = {r["vec_id"]: r for r in quantize_int8(emb, "vec_id", "embedding").collect()}
    scales = np.abs(mat).max(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        q = np.floor(mat / scales[:, None] * 127.0 + 0.5)
    q[scales == 0.0] = 0.0
    for i, vid in enumerate(ids):
        r = got[int(vid)]
        assert r["scale_micro"] == int(np.floor(scales[i] * 1e6))
        assert r["sum_q"] == int(q[i].sum())
        assert r["l1_q"] == int(np.abs(q[i]).sum())
        # codes stay inside the symmetric int8 range
        assert np.abs(q[i]).max() <= 127


def test_int8_topk_parity_with_float_dot(spark, sf_dir, emb_np):
    """The quantized ranking must (a) score every pair within the analytic
    quantization-error bound of the exact float inner product and (b) agree
    with the exact-dot top-K at >= 80% recall per query."""
    ids, mat = emb_np
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    got = int8_topk(emb, q, K).collect()
    assert len(got) == 5 * K

    dots = mat @ mat.T  # exact float64 inner products
    scales = np.abs(mat).max(axis=1)
    idx = {int(v): i for i, v in enumerate(ids)}

    by_query: dict[int, list] = {}
    for r in got:
        qi, di = idx[r["query_id"]], idx[r["vec_id"]]
        exact = dots[qi, di]
        # per-element error <= s_a*s_b/254 + s_b*s_a/254 + (s_a s_b)/254^2
        bound = mat.shape[1] * scales[qi] * scales[di] / 127.0
        assert abs(r["score"] - exact) <= bound
        by_query.setdefault(r["query_id"], []).append(r["vec_id"])

    for qid, picked in by_query.items():
        qi = idx[qid]
        order = np.argsort(-dots[qi])
        truth = [int(ids[j]) for j in order if int(ids[j]) != qid][:K]
        overlap = len(set(picked) & set(truth))
        assert overlap >= int(0.8 * K), (qid, overlap)


def test_int8_topk_ranks_are_dense_and_deterministic(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    a = int8_topk(emb, q, K).orderBy("query_id", "rnk").collect()
    b = int8_topk(emb.repartition(7), q, K).orderBy("query_id", "rnk").collect()
    assert a == b  # partition-geometry independent
    for r in a:
        assert 1 <= r["rnk"] <= K


def test_int8_ivf_topk_subset_of_exhaustive_and_deterministic(spark, sf_dir):
    """IVF+SQ8 scores must agree with the exhaustive int8 scan wherever
    both rank a pair (same quantized arithmetic — IVF only restricts the
    candidate set), recall the exhaustive top-K reasonably at this
    geometry, and be partition-geometry independent."""
    from pyspark.sql import functions as F2

    from whisper_pandas_spark.operators.embeddings import int8_topk, int8_topk_ivf

    emb = load_table(spark, "embeddings", sf_dir)
    cent = emb.filter(F2.col("vec_id") < 16)
    q = emb.filter(F2.col("vec_id") < 5)

    full = {(r["query_id"], r["vec_id"]): r["score"]
            for r in int8_topk(emb, q, K).collect()}
    ivf = int8_topk_ivf(emb, q, K, cent, nprobe=4).collect()
    assert len(ivf) == 5 * K
    for r in ivf:
        key = (r["query_id"], r["vec_id"])
        if key in full:  # same pair scored by both paths -> same bits
            assert full[key] == r["score"]
    got = {k for k in full if k in {(r["query_id"], r["vec_id"]) for r in ivf}}
    assert len(got) / len(full) >= 0.5  # nprobe=4/16 recall floor

    again = int8_topk_ivf(emb.repartition(7), q, K, cent, nprobe=4)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, ivf))


def test_vector_pipeline_end_to_end_partition_independent(spark, sf_dir):
    """The vector side composed the way a production corpus job chains it:
    int8 quantization audit -> checkpointed k-means codebook -> IVF+SQ8
    ANN -> connected components over the ANN pair graph. The whole chain
    must produce identical results at different partition geometries."""
    from pyspark.sql import functions as F2

    from whisper_pandas_spark.operators.components import connected_components
    from whisper_pandas_spark.operators.embeddings import int8_topk_ivf, quantize_int8
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine

    def run(emb):
        audit = quantize_int8(emb, "vec_id", "embedding")
        assert audit.filter(F2.col("err_micro_max") < 0).count() == 0
        cent = kmeans_cosine(emb, 8, iters=2, seed=0, checkpoint=True).select(
            F2.col("cid").alias("vec_id"), "embedding"
        )
        q = emb.filter(F2.col("vec_id") < 20)
        ann = int8_topk_ivf(emb, q, 5, cent, nprobe=2)
        pairs = ann.filter(F2.col("score") > 0).select(
            F2.col("query_id").alias("vec_i"), F2.col("vec_id").alias("vec_j")
        )
        comp = connected_components(pairs, src="vec_i", dst="vec_j")
        return (
            sorted(map(tuple, ann.collect())),
            sorted(map(tuple, comp.collect())),
        )

    emb = load_table(spark, "embeddings", sf_dir)
    a_ann, a_comp = run(emb)
    b_ann, b_comp = run(emb.repartition(7))
    assert a_ann == b_ann
    assert a_comp == b_comp
    assert len(a_ann) == 20 * 5
    assert a_comp  # the ANN graph links something


# -- product quantization --------------------------------------------------


def _clustered_vectors(n_per=20, dim=8, centers=((5.0, 1), (-5.0, 3), (0.0, 6))):
    """Three tight clusters; vector i of cluster c = center + small
    deterministic jitter."""
    rows = []
    vid = 0
    for base, axis in centers:
        for i in range(n_per):
            v = [0.0] * dim
            v[axis] = base
            v[(axis + 1) % dim] = 0.01 * (i % 7)
            rows.append((vid, v))
            vid += 1
    return rows


def test_pq_identical_vectors_share_codes_and_validation(spark):
    from whisper_pandas_spark.operators.embeddings import pq_encode, pq_train

    emb = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>"
    )
    cb = pq_train(emb, 8, 2, 4, iters=1)
    codes = pq_encode(emb, cb, 8, 2).toPandas()
    assert set(codes["sub"]) == {0, 1}
    by_vec = codes.pivot(index="vec_id", columns="sub", values="code")
    # vectors 0 and 7 are identical by construction (i%7 jitter repeats)
    assert tuple(by_vec.loc[0]) == tuple(by_vec.loc[7])
    with pytest.raises(ValueError):
        pq_train(emb, 8, 3, 4)
    with pytest.raises(ValueError):
        pq_encode(emb, cb, 8, 5)
    with pytest.raises(ValueError):
        pq_train(emb, 8, 2, 4, iters=-1)


def test_pq_topk_recall_on_clustered_data(spark):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.embeddings import (
        l2sq,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>"
    )
    cb = pq_train(emb, 8, 2, 6, iters=2)
    codes = pq_encode(emb, cb, 8, 2)
    q = emb.filter(F.col("vec_id").isin(0, 25, 45))
    got = pq_topk(codes, q, cb, 10, 8, 2).toPandas()
    # exact L2 top-10 per query (same tie rule)
    a = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    b = emb.select(F.col("vec_id"), F.col("embedding").alias("cv"))
    exact = (
        a.crossJoin(b)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", l2sq(F.col("qv"), F.col("cv")).alias("d"))
    ).toPandas()
    for qid, grp in got.groupby("query_id"):
        ex = exact[exact["query_id"] == qid].sort_values(["d", "vec_id"])
        want = set(ex.head(10)["vec_id"])
        recall = len(set(grp["vec_id"]) & want) / 10
        assert recall >= 0.9, (qid, recall)
        # ADC distances are monotone with rank
        g = grp.sort_values("rnk")
        assert (g["adc_dist"].diff().dropna() >= 0).all()


def test_pq_topk_ivf_composes_cells_and_codes(spark):
    from pyspark.sql import functions as F

    from whisper_pandas_spark.operators.embeddings import (
        pq_encode,
        pq_topk,
        pq_topk_ivf,
        pq_train,
    )
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine

    emb = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<double>"
    )
    cb = pq_train(emb, 8, 2, 6, iters=2)
    cent = kmeans_cosine(emb, 3, 2, seed=0).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    q = emb.filter(F.col("vec_id").isin(0, 25))
    # probing EVERY cell == plain exhaustive PQ (identical rows)
    full = pq_topk_ivf(emb, q, cb, cent, 10, 8, 2, nprobe=3).toPandas()
    plain = pq_topk(pq_encode(emb, cb, 8, 2), q, cb, 10, 8, 2).toPandas()
    key = ["query_id", "vec_id", "adc_dist", "rnk"]
    assert full.sort_values(key).reset_index(drop=True).equals(
        plain.sort_values(key).reset_index(drop=True)
    )
    # nprobe=1: a subset of candidates, ADC values agree on shared pairs
    one = pq_topk_ivf(emb, q, cb, cent, 10, 8, 2, nprobe=1).toPandas()
    merged = one.merge(
        plain, on=["query_id", "vec_id"], suffixes=("_ivf", "_pq"), how="inner"
    )
    assert len(merged) > 0
    assert (merged["adc_dist_ivf"] == merged["adc_dist_pq"]).all()
