"""Registry entries: similarity search and embeddings over `embeddings`
(X3) — exact / LSH / IVF top-k (``sim_*``), int8, PQ, random-projection,
PCA and Matryoshka embedding surfaces (``emb_*``), diversified and
item-CF retrieval (``mmr_*``, ``rec_item_cf_topk``), and the two
embedding-space dedup entries (``dedup_semantic``, ``dedup_semdedup``).

Float-parity design: every cosine on BOTH engines is computed as the same
left fold over the same element order with the same double casts
(Spark ``aggregate(zip_with(...))`` ≡ DuckDB
``list_reduce(list_prepend(0.0, list_transform(...)))``), so results are
bit-identical, not merely close — `round(..., 6)` is then safe on both
sides. We deliberately do NOT use DuckDB's `list_cosine_similarity`
(different internal summation order ⇒ last-ulp drift ⇒ hash mismatches).

int8 parity (the contract stated in operators/embeddings.py):

- scale = max(|v_i|) is a comparison-only fold — order-independent and
  bit-identical on Spark and DuckDB;
- codes  q_i = floor(v_i / scale * 127 + 0.5), evaluated left-to-right
  with the same double casts on both engines (floor(x+0.5), NOT round():
  round's half-up vs half-even differs across engines);
- every integer sum/dot is a left fold over BIGINT — exact, no float
  summation-order hazard (and no DuckDB HUGEINT widening, which a sum()
  aggregate would introduce).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.functions.duck import duck_cos as _duck_cos
from whisper_pandas_spark.operators.embeddings import int8_topk, quantize_int8
from whisper_pandas_spark.operators.similarity import (
    _hyperplane,
    cosine_topk,
    cosine_topk_lsh,
)
from whisper_pandas_spark.stage import stage_materialize


DIM = 64
K = 10
N_PLANES = 8
NEAR_DUP_T = 0.3
N_TABLES = 16
N_PLANES_MULTI = 3
IVF_K_CENTROIDS = 16
IVF_NPROBE = 4
KM_K = 8
KM_ITERS = 2


def _kmeans_iter_sql(prev: str, idx: int) -> str:
    """One Lloyd iteration as CTE blocks: assignment (argmax cosine, ties
    by cid) then exact-decimal element-wise mean — the same arithmetic the
    Spark trainer runs (operators/kmeans.py)."""
    return f"""asg{idx} AS (
  SELECT e.vec_id, e.embedding AS vec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN {prev} c
), cell{idx} AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT vec_id, vec, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM asg{idx}
  ) WHERE rn = 1
), mean{idx} AS (
  SELECT cell, r.range AS pos,
         CAST(sum(CAST(CAST(vec[r.range + 1] AS DOUBLE) AS DECIMAL(38,12)))
              AS DOUBLE) / count(*) AS mval
  FROM cell{idx}, range(0, {DIM}) r
  GROUP BY cell, r.range
), cent{idx} AS (
  SELECT cell AS cid, list(mval ORDER BY pos) AS centroid
  FROM mean{idx} GROUP BY cell
)"""


def _duck_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"


def _duck_bucket(vec: str, planes: list[list[float]]) -> str:
    bits = []
    for p, plane in enumerate(planes):
        dot = (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, len({vec})+1), "
            f"i -> {vec}[i]::DOUBLE * ({_duck_plane_literal(plane)})[i])), "
            f"(x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {2 ** p}::BIGINT ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


@register(
    "sim_topk_bruteforce",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id, embedding AS cvec FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id,
         round({_duck_cos("qvec", "cvec")}, 6) AS cos_sim
  FROM c CROSS JOIN q
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: exact cosine top-{K} for 5 query vectors. Query side is
    broadcast; corpus stays map-side until the tiny per-query window."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, q, K).orderBy("query_id", "rnk")


def _lsh_oracle() -> str:
    planes = [_hyperplane(0, p, DIM) for p in range(N_PLANES)]
    return f"""
WITH c AS (
  SELECT vec_id, embedding AS cvec,
         {_duck_bucket("embedding", planes)} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_duck_bucket("embedding", planes)} AS bucket
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id,
         round({_duck_cos("qvec", "cvec")}, 6) AS cos_sim
  FROM c JOIN q USING (bucket)
  WHERE c.vec_id != q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
"""


@register("sim_topk_lsh", oracle=_lsh_oracle())
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: random-hyperplane LSH bucket match then exact
    re-rank — candidate work is O(|bucket|) per query, not O(|corpus|).
    Deterministic md5-derived hyperplanes, replicated in the oracle."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh(emb, q, K, DIM, N_PLANES).orderBy("query_id", "rnk")


@register(
    "sim_near_dup_pairs",
    oracle=f"""
SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       round({_duck_cos("a.embedding", "b.embedding")}, 6) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_duck_cos("a.embedding", "b.embedding")}, 6) >= {NEAR_DUP_T}
ORDER BY vec_i, vec_j
""",
)
def _near_dup_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X2 hybrid: embedding-cosine near-dup pairs blocked by label
    (cluster prior). Equi-join on the blocking key keeps the pair count
    Σ n_label² instead of n²; at 100 TB the blocking key would be an LSH
    bucket (sim_topk_lsh's) — identical join shape."""
    from whisper_pandas_spark.operators.similarity import cosine_with_norms, norm

    emb = table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = emb.select(
        F.col("label").alias("label"),
        F.col("vec_id").alias("vec_i"),
        F.col("embedding").alias("e_i"),
        F.col("nrm").alias("n_i"),
    )
    b = emb.select(
        F.col("label").alias("label"),
        F.col("vec_id").alias("vec_j"),
        F.col("embedding").alias("e_j"),
        F.col("nrm").alias("n_j"),
    )
    sim = F.round(
        cosine_with_norms(F.col("e_i"), F.col("e_j"), F.col("n_i"), F.col("n_j")), 6
    )
    return (
        a.join(b, "label")
        .filter(F.col("vec_i") < F.col("vec_j"))
        .select("vec_i", "vec_j", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEAR_DUP_T)
    )


@register(
    "sim_components",
    oracle=f"""
WITH RECURSIVE sim_pairs AS (
  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_duck_cos("a.embedding", "b.embedding")}, 6) >= {NEAR_DUP_T}
), edges AS (
  SELECT vec_i AS a, vec_j AS b FROM sim_pairs
  UNION
  SELECT vec_j AS a, vec_i AS b FROM sim_pairs
), reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS vec_id, min(comp) AS component
FROM reach GROUP BY node ORDER BY vec_id
""",
)
def sim_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering operator is family-generic: the same min-label
    propagation (operators/components.py) that clusters MinHash text
    pairs clusters embedding-cosine pairs — semantic dedup groups over
    the `embeddings` table. Independent recursive-closure oracle."""
    from whisper_pandas_spark.operators.components import connected_components

    comp = connected_components(
        _near_dup_pairs_df(spark, sf_dir), src="vec_i", dst="vec_j"
    )
    return comp.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("component")
    ).orderBy("vec_id"
    )


# Multi-table geometry is a recall/candidate-count dial: planes/table b
# sets per-table collision prob p^b, tables K sets recall 1-(1-p^b)^K.
# The test embeddings are near-random (top-10 cosine ~0.3 => p ~0.6), so
# b=3, K=16 is what reaches >=0.9 recall HERE (asserted in
# test_extensions.py); at 1 B clustered vectors p rises toward 1 for true
# neighbors and b grows with ln(n) while K stays O(10) — same operator,
# different dial settings (SCALE.md).


def _lsh_multi_oracle() -> str:
    conds = []
    for t in range(N_TABLES):
        planes = [_hyperplane(t, p, DIM) for p in range(N_PLANES_MULTI)]
        conds.append(
            f"{_duck_bucket('c.embedding', planes)} = {_duck_bucket('qx.embedding', planes)}"
        )
    any_table = " OR ".join(conds)
    return f"""
WITH qx AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT qx.vec_id AS query_id, qx.embedding AS qvec,
                  c.vec_id, c.embedding AS cvec
  FROM embeddings c JOIN qx ON ({any_table})
  WHERE c.vec_id != qx.vec_id
), scored AS (
  SELECT query_id, vec_id,
         round({_duck_cos("qvec", "cvec")}, 6) AS cos_sim
  FROM cand
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
"""


@register("sim_topk_lsh_multi", oracle=_lsh_multi_oracle())
def sim_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 recall fix for billion-vector scale: {N_TABLES} independent
    hyperplane tables, candidates = bucket match in ANY table, exact
    re-rank once per distinct pair. Spark side realizes the union of K
    bucketed joins as ONE hash join on a composite (table, bucket) key
    (operators/similarity.py:cosine_topk_lsh_multi); recall vs the
    bruteforce ground truth is asserted >= 0.9 in tests."""
    from whisper_pandas_spark.operators.similarity import cosine_topk_lsh_multi

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh_multi(emb, q, K, DIM, N_TABLES, N_PLANES_MULTI).orderBy(
        "query_id", "rnk"
    )


def _lsh_near_dup_oracle() -> str:
    planes = [_hyperplane(0, p, DIM) for p in range(N_PLANES)]
    return f"""
WITH b AS (
  SELECT vec_id, label, embedding,
         {_duck_bucket("embedding", planes)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_i, x.vec_id AS vec_j,
       round({_duck_cos("a.embedding", "x.embedding")}, 6) AS cos_sim
FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
WHERE round({_duck_cos("a.embedding", "x.embedding")}, 6) >= {NEAR_DUP_T}
ORDER BY vec_i, vec_j
"""


@register("sim_near_dup_lsh", oracle=_lsh_near_dup_oracle())
def sim_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3: embedding near-dup pairs blocked by the SAME hyperplane-LSH
    bucket (sign pattern agreement) instead of a label — the blocking key
    that exists at 100 TB when no labels do. Same-bucket candidates get
    the exact cosine; recall trades against bucket density via N_PLANES."""
    from whisper_pandas_spark.operators.similarity import lsh_bucket

    from whisper_pandas_spark.operators.similarity import cosine_with_norms, norm

    planes = [_hyperplane(0, p, DIM) for p in range(N_PLANES)]
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        lsh_bucket(F.col("embedding"), planes).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = emb.select(
        F.col("bucket").alias("bucket"),
        F.col("vec_id").alias("vec_i"),
        F.col("embedding").alias("e_i"),
        F.col("nrm").alias("n_i"),
    )
    b = emb.select(
        F.col("bucket").alias("bucket"),
        F.col("vec_id").alias("vec_j"),
        F.col("embedding").alias("e_j"),
        F.col("nrm").alias("n_j"),
    )
    sim = F.round(
        cosine_with_norms(F.col("e_i"), F.col("e_j"), F.col("n_i"), F.col("n_j")), 6
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_i") < F.col("vec_j"))
        .select("vec_i", "vec_j", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEAR_DUP_T)
        .orderBy("vec_i", "vec_j")
    )


def _ivf_oracle() -> str:
    """Full IVF replication: centroid assignment (argmin by cosine, ties
    by centroid id), nprobe=4 query probes, exact re-rank in probed
    cells. Same fold arithmetic as the Spark side."""
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS centroid FROM embeddings WHERE vec_id < 16
), corpus_scored AS (
  SELECT e.vec_id, e.embedding AS cvec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, cvec, cid AS cell FROM (
    SELECT vec_id, cvec, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM corpus_scored
  ) WHERE rn = 1
), query_scored AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent c
  WHERE e.vec_id < 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT query_id, qvec, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM query_scored
  ) WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT p.query_id, s.vec_id,
         round({_duck_cos("p.qvec", "s.cvec")}, 6) AS cos_sim
  FROM cells s JOIN probes p USING (cell)
  WHERE s.vec_id != p.query_id
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM cand
)
SELECT query_id, vec_id, cos_sim, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
"""


@register("sim_topk_ivf", oracle=_ivf_oracle())
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path #2: IVF-flat ANN — coarse-quantize into 16 cells
    (codebook = first 16 corpus vectors, standing in for an offline
    k-means codebook), probe 4 cells per query, exact re-rank inside.
    Candidate work ≈ nprobe·N/K per query; cell join is a hash equi-join
    on an int key (the data-adaptive sibling of sim_topk_lsh)."""
    from whisper_pandas_spark.operators.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < IVF_K_CENTROIDS)
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(emb, q, K, cent, IVF_NPROBE).orderBy("query_id", "rnk")


def _ivf_trained_oracle() -> str:
    iter_blocks = ",\n".join(
        _kmeans_iter_sql(f"cent{i}" if i else "cent0", i + 1)
        for i in range(KM_ITERS)
    )
    return f"""
WITH init AS (
  SELECT vec_id, embedding, md5('0:' || vec_id) AS h
  FROM embeddings ORDER BY h LIMIT {KM_K}
), cent0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid,
         embedding::DOUBLE[] AS centroid
  FROM init
),
{iter_blocks},
corpus_scored AS (
  SELECT e.vec_id, e.embedding AS cvec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent{KM_ITERS} c
), cells AS (
  SELECT vec_id, cvec, cid AS cell FROM (
    SELECT vec_id, cvec, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM corpus_scored
  ) WHERE rn = 1
), query_scored AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent{KM_ITERS} c
  WHERE e.vec_id < 5
), probes AS (
  SELECT query_id, qvec, cid AS cell FROM (
    SELECT query_id, qvec, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM query_scored
  ) WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT p.query_id, s.vec_id,
         round({_duck_cos("p.qvec", "s.cvec")}, 6) AS cos_sim
  FROM cells s JOIN probes p USING (cell)
  WHERE s.vec_id != p.query_id
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM cand
)
SELECT query_id, vec_id, cos_sim, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
"""


@register("sim_topk_ivf_trained", oracle=_ivf_trained_oracle())
def sim_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: the IVF ANN path made self-contained — the codebook comes from
    the deterministic distributed k-means trainer (operators/kmeans.py:
    md5-seeded init, 2 Lloyd iterations, exact-decimal means) instead of
    a caller-supplied centroid set. Same probe/re-rank machinery as
    sim_topk_ivf. Uses the trainer's DEFAULT per-iteration lineage
    checkpoint, so the downstream plan holds one iteration's operators
    plus a LogicalRDD scan of the k-row codebook — constant in iters
    (the production iterative-training shape; the unbounded single-tree
    twin is the labelled baseline sim_topk_ivf_single_tree)."""
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine
    from whisper_pandas_spark.operators.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_cosine(emb, KM_K, KM_ITERS, seed=0).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(emb, q, K, cent, IVF_NPROBE).orderBy("query_id", "rnk")


@register("sim_topk_ivf_single_tree", oracle=_ivf_trained_oracle())
def sim_topk_ivf_single_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 BASELINE: sim_topk_ivf_trained with checkpoint=False — the
    KM_ITERS Lloyd iterations compound into ONE plan tree (r3 measured 17
    exchanges vs 5 checkpointed), scanning the corpus once per iteration.
    Kept as the explicitly-labelled single-tree baseline: same oracle as
    the default path, so the driver re-proves the two trainers are
    bit-identical every round (also asserted in tests/test_extensions.py).
    Not a production shape — use the default."""
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine
    from whisper_pandas_spark.operators.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_cosine(emb, KM_K, KM_ITERS, seed=0, checkpoint=False).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_ivf(emb, q, K, cent, IVF_NPROBE).orderBy("query_id", "rnk")


# DuckDB fragments replicating the Spark-side arithmetic exactly.

_SCALE = (
    "list_reduce(list_prepend(0.0, list_transform({v}, x -> abs(x::DOUBLE))), "
    "(a, b) -> greatest(a, b))"
)

_CODES = (
    "list_transform({v}, x -> CASE WHEN {s} = 0.0 THEN 0::BIGINT "
    "ELSE CAST(floor(x::DOUBLE / {s} * 127.0 + 0.5) AS BIGINT) END)"
)


def _duck_scale(v: str) -> str:
    return _SCALE.format(v=v)


def _duck_codes(v: str, s: str) -> str:
    return _CODES.format(v=v, s=s)


def _duck_isum(lst: str) -> str:
    """Exact BIGINT left-fold sum (no sum() aggregate ⇒ no HUGEINT)."""
    return f"CAST(list_reduce(list_prepend(0::BIGINT, {lst}), (a, x) -> a + x) AS BIGINT)"


def _duck_fold_max(lst: str) -> str:
    return f"list_reduce(list_prepend(0.0, {lst}), (a, x) -> greatest(a, x))"


@register(
    "emb_quantize_int8",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding,
         {_duck_scale("embedding")} AS scale
  FROM embeddings
), qz AS (
  SELECT vec_id, embedding, scale,
         {_duck_codes("embedding", "scale")} AS q
  FROM s
)
SELECT vec_id,
       CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_micro,
       {_duck_isum("q")} AS sum_q,
       {_duck_isum("list_transform(q, x -> abs(x))")} AS l1_q,
       CAST(floor({_duck_fold_max(
           "list_transform(range(1, len(embedding)+1), "
           "i -> abs(embedding[i]::DOUBLE - q[i]::DOUBLE * scale / 127.0))"
       )} * 1000000.0) AS BIGINT) AS err_micro_max
FROM qz
ORDER BY vec_id
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: per-vector symmetric int8 quantization with reconstruction
    audit (operators/embeddings.py:53-90). Scan-shaped — one projection,
    zero shuffles; scales linearly with corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    return quantize_int8(emb, "vec_id", "embedding").orderBy("vec_id")


@register(
    "emb_int8_topk",
    oracle=f"""
WITH coded AS (
  SELECT vec_id,
         {_duck_scale("embedding")} AS scale,
         {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
), doc AS (
  SELECT vec_id AS doc_id, scale AS doc_scale, q AS doc_q FROM coded
), qry AS (
  SELECT vec_id AS qry_id, scale AS qry_scale, q AS qry_q
  FROM coded WHERE vec_id < 5
), scored AS (
  SELECT qry_id AS query_id, doc_id AS vec_id,
         {_duck_isum(
             "list_transform(range(1, len(doc_q)+1), i -> qry_q[i] * doc_q[i])"
         )} AS dot_q,
         qry_scale, doc_scale
  FROM doc CROSS JOIN qry
  WHERE doc_id != qry_id
), rescored AS (
  SELECT query_id, vec_id, dot_q,
         round(dot_q::DOUBLE * qry_scale * doc_scale / 16129.0, 6) AS score
  FROM scored
), ranked AS (
  SELECT query_id, vec_id, dot_q, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM rescored
)
SELECT query_id, vec_id, dot_q, score, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
""",
)
def emb_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: quantized ANN — top-{K} by exact INTEGER code dot product,
    rescaled by the two stored float scales (operators/embeddings.py:
    93-164). Query side broadcast, two-stage local/global rank — the same
    scale-safe reduction as sim_topk_bruteforce, but the hot inner loop
    is pure BIGINT math."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return int8_topk(emb, q, K).orderBy("query_id", "rnk")


def _ivf_sq8_oracle() -> str:

    dot = _duck_isum(
        "list_transform(range(1, len(doc_q)+1), i -> qry_q[i] * doc_q[i])"
    )
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS centroid FROM embeddings
  WHERE vec_id < {IVF_K_CENTROIDS}
), corpus_scored AS (
  SELECT e.vec_id, e.embedding AS v, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id AS doc_id, cid AS cell,
         {_duck_scale("v")} AS doc_scale,
         {_duck_codes("v", _duck_scale("v"))} AS doc_q
  FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM corpus_scored
  ) WHERE rn = 1
), query_scored AS (
  SELECT e.vec_id, e.embedding AS v, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent c
  WHERE e.vec_id < 5
), probes AS (
  SELECT vec_id AS qry_id, cid AS cell,
         {_duck_scale("v")} AS qry_scale,
         {_duck_codes("v", _duck_scale("v"))} AS qry_q
  FROM (
    SELECT vec_id, v, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM query_scored
  ) WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT p.qry_id AS query_id, s.doc_id AS vec_id,
         {dot} AS dot_q,
         p.qry_scale, s.doc_scale
  FROM cells s JOIN probes p USING (cell)
  WHERE s.doc_id != p.qry_id
), rescored AS (
  SELECT query_id, vec_id, dot_q,
         round(dot_q::DOUBLE * qry_scale * doc_scale / 16129.0, 6) AS score
  FROM cand
), ranked AS (
  SELECT query_id, vec_id, dot_q, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rnk
  FROM rescored
)
SELECT query_id, vec_id, dot_q, score, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
"""


@register("emb_int8_ivf_topk", oracle=_ivf_sq8_oracle())
def emb_int8_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: IVF + SQ8 — the production billion-scale ANN composition
    (operators/embeddings.py:int8_topk_ivf). Coarse cells bound WHICH
    pairs score (nprobe={IVF_NPROBE} of {IVF_K_CENTROIDS} cells), int8
    codes bound WHAT each comparison costs (BIGINT dot + one rescale)."""
    from whisper_pandas_spark.operators.embeddings import int8_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < IVF_K_CENTROIDS)
    q = emb.filter(F.col("vec_id") < 5)
    return int8_topk_ivf(emb, q, K, cent, IVF_NPROBE).orderBy("query_id", "rnk")


# -- SemDeDup: cluster-blocked embedding near-dup removal ------------------

_SEM_T = 0.3  # same cosine bar as the sim_near_dup family


def _semantic_dedup_oracle() -> str:

    iter_blocks = ",\n".join(
        _kmeans_iter_sql(f"cent{i}" if i else "cent0", i + 1)
        for i in range(KM_ITERS)
    )
    return f"""
WITH RECURSIVE init AS (
  SELECT vec_id, embedding, md5('0:' || vec_id) AS h
  FROM embeddings ORDER BY h LIMIT {KM_K}
), cent0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid,
         embedding::DOUBLE[] AS centroid
  FROM init
),
{iter_blocks},
scored AS (
  SELECT e.vec_id, e.embedding AS vec, c.cid,
         {_duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent{KM_ITERS} c
), cells AS (
  SELECT vec_id, vec, cid AS cell FROM (
    SELECT vec_id, vec, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
), sim_pairs AS (
  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({_duck_cos("a.vec", "b.vec")}, 6) >= {_SEM_T}
), edges AS (
  SELECT vec_i AS a, vec_j AS b FROM sim_pairs
  UNION
  SELECT vec_j AS a, vec_i AS b FROM sim_pairs
), reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
), lab AS (
  SELECT node, min(comp) AS comp FROM reach GROUP BY node
)
SELECT c.vec_id, c.cell,
       (lab.node IS NULL OR lab.comp = c.vec_id) AS keep
FROM cells c LEFT JOIN lab ON lab.node = c.vec_id
ORDER BY c.vec_id
"""


@register("dedup_semantic", _semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+: SemDeDup (operators/dedup.py:semantic_dedup) made fully
    self-contained — the blocking codebook comes from the in-engine
    deterministic k-means trainer (same init/iters/seed as
    sim_topk_ivf_trained), so the oracle replays training, cell
    assignment, within-cell cosine pairs, AND the recursive component
    closure in SQL. keep = min-id member of each near-dup component
    (vectors in no pair pass through)."""
    from whisper_pandas_spark.operators.dedup import (
        release_cached,
        semantic_dedup,
    )
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_cosine(emb, KM_K, KM_ITERS, seed=0).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    sem = semantic_dedup(emb, cent, _SEM_T)
    # materialize eagerly, then release the corpus-wide cell cache (same
    # _finalize discipline as queries_dedup) so repeated driver/bench
    # runs don't pin executor storage
    out = stage_materialize(sem)
    release_cached(sem)
    return out.orderBy("vec_id")


# -- product quantization ANN ----------------------------------------------

_PQ_M = 4
_PQ_K = 16
_PQ_ITERS = 2
_PQ_TOP = 10


def _pq_chain() -> str:
    """Shared CTE chain: subspace split -> trained PQ codebooks ->
    corpus codes -> per-query ADC lookup tables (queries = vec_id < 5).
    Used by both the exhaustive-PQ and the IVF-PQ oracles."""
    from whisper_pandas_spark.functions.duck import duck_l2sq

    d_sub = DIM // _PQ_M

    def iter_block(prev: str, i: int) -> str:
        return f"""pasg{i} AS (
  SELECT s.vec_id, s.sub, s.svec, c.cid,
         {duck_l2sq("s.svec", "c.centroid")} AS d
  FROM subv s JOIN {prev} c ON s.sub = c.sub
), pcell{i} AS (
  SELECT vec_id, sub, svec, cid AS cell FROM (
    SELECT vec_id, sub, svec, cid,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d, cid) AS rn
    FROM pasg{i}
  ) WHERE rn = 1
), pmean{i} AS (
  SELECT sub, cell, r.range AS pos,
         CAST(sum(CAST(svec[r.range + 1] AS DECIMAL(38,12)))
              AS DOUBLE) / count(*) AS mval
  FROM pcell{i}, range(0, {d_sub}) r
  GROUP BY sub, cell, r.range
), pcent{i} AS (
  SELECT sub, cell AS cid, list(mval ORDER BY pos) AS centroid
  FROM pmean{i} GROUP BY sub, cell
)"""

    iters = ",\n".join(
        iter_block(f"pcent{i}" if i else "pcent0", i + 1)
        for i in range(_PQ_ITERS)
    )
    return f"""subv AS (
  SELECT vec_id, s.range AS sub,
         (embedding[s.range * {d_sub} + 1 : s.range * {d_sub} + {d_sub}])::DOUBLE[] AS svec
  FROM embeddings, range(0, {_PQ_M}) s
), pcent0 AS (
  SELECT sub, row_number() OVER (PARTITION BY sub
           ORDER BY md5('0:' || sub || ':' || vec_id)) - 1 AS cid,
         svec AS centroid
  FROM subv
  QUALIFY cid < {_PQ_K}
),
{iters},
codes AS (
  SELECT vec_id, sub, cid AS code FROM (
    SELECT s.vec_id, s.sub, c.cid,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
                              ORDER BY {duck_l2sq("s.svec", "c.centroid")}, c.cid) AS rn
    FROM subv s JOIN pcent{_PQ_ITERS} c ON s.sub = c.sub
  ) WHERE rn = 1
), dtable AS (
  SELECT s.vec_id AS query_id, s.sub, c.cid AS code,
         CAST({duck_l2sq("s.svec", "c.centroid")} AS DECIMAL(38,12)) AS d
  FROM subv s JOIN pcent{_PQ_ITERS} c ON s.sub = c.sub
  WHERE s.vec_id < 5
)"""


def _pq_rank_tail() -> str:
    return f""", ranked AS (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(adc_dist, 6) AS adc_dist, rnk
FROM ranked WHERE rnk <= {_PQ_TOP}
ORDER BY query_id, rnk
"""


def _pq_oracle() -> str:
    return f"""
WITH {_pq_chain()}, scored AS (
  SELECT t.query_id, c.vec_id, CAST(sum(t.d) AS DOUBLE) AS adc_dist
  FROM codes c JOIN dtable t ON c.sub = t.sub AND c.code = t.code
  WHERE c.vec_id != t.query_id
  GROUP BY t.query_id, c.vec_id
){_pq_rank_tail()}"""


@register("emb_pq_topk", _pq_oracle())
def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: product-quantization ANN end-to-end in-engine — M=4
    per-subspace L2 codebooks trained jointly (checkpointed Lloyd,
    exact-decimal means), corpus encoded to 4 codes/vector, queries
    answered by ADC (per-query (M x k) exact lookup table broadcast,
    DECIMAL(38,12) sum of looked-up distances). The oracle replays
    training, encoding, table build, and ranking in SQL — every stage
    of the 1 B-vector compression standard value-checked."""
    from whisper_pandas_spark.operators.embeddings import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, DIM, _PQ_M, _PQ_K, iters=_PQ_ITERS, seed=0)
    codes = pq_encode(emb, cb, DIM, _PQ_M)
    q = emb.filter(F.col("vec_id") < 5)
    return pq_topk(codes, q, cb, _PQ_TOP, DIM, _PQ_M).orderBy(
        "query_id", "rnk"
    )


_PQ_NPROBE = 2


def _pq_ivf_oracle() -> str:

    ivf_iters = ",\n".join(
        _kmeans_iter_sql(f"cent{i}" if i else "cent0", i + 1)
        for i in range(KM_ITERS)
    )
    return f"""
WITH {_pq_chain()}, init AS (
  SELECT vec_id, embedding, md5('0:' || vec_id) AS h
  FROM embeddings ORDER BY h LIMIT {KM_K}
), cent0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid,
         embedding::DOUBLE[] AS centroid
  FROM init
),
{ivf_iters},
cellsv AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent{KM_ITERS} c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, cid AS cell FROM (
    SELECT e.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent{KM_ITERS} c
    WHERE e.vec_id < 5
  ) WHERE rn <= {_PQ_NPROBE}
), scored AS (
  SELECT p.query_id, c.vec_id, CAST(sum(t.d) AS DOUBLE) AS adc_dist
  FROM codes c
  JOIN cellsv v ON v.vec_id = c.vec_id
  JOIN probes p ON p.cell = v.cell
  JOIN dtable t ON t.query_id = p.query_id AND t.sub = c.sub
               AND t.code = c.code
  WHERE c.vec_id != p.query_id
  GROUP BY p.query_id, c.vec_id
){_pq_rank_tail()}"""


@register("emb_pq_ivf_topk", _pq_ivf_oracle())
def emb_pq_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: IVF-PQ — the full 1 B-vector serving shape with BOTH
    trainers in-engine: cosine-k-means IVF cells bound WHICH codes
    score, PQ/ADC lookup tables bound what each candidate costs
    (operators/embeddings.py:pq_topk_ivf). The oracle replays IVF
    training, PQ training, cell assignment, probing, encoding, and ADC
    ranking — the entire two-codebook pipeline value-checked in SQL."""
    from whisper_pandas_spark.operators.embeddings import pq_topk_ivf, pq_train
    from whisper_pandas_spark.operators.kmeans import kmeans_cosine

    emb = table(spark, sf_dir, "embeddings")
    cb = pq_train(emb, DIM, _PQ_M, _PQ_K, iters=_PQ_ITERS, seed=0)
    cent = kmeans_cosine(emb, KM_K, KM_ITERS, seed=0).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    return pq_topk_ivf(
        emb, q, cb, cent, _PQ_TOP, DIM, _PQ_M, nprobe=_PQ_NPROBE
    ).orderBy("query_id", "rnk")


# -- MMR diversified selection, driver-verified ---------------------------------

_MMR_K = 8
_MMR_LAM = 0.5  # exactly representable; SQL literals cast to DOUBLE
# (DuckDB parses bare 0.5 as DECIMAL — the pagerank-oracle lesson)


def _mmr_oracle() -> str:
    from whisper_pandas_spark.functions.duck import duck_cos

    steps = []
    for i in range(1, _MMR_K + 1):
        prev = f"s{i - 1}"
        steps.append(f"""p{i} AS (
  SELECT vec_id AS pid, v AS pv, rel AS prel,
         CASE WHEN ms IS NULL THEN CAST({_MMR_LAM} AS DOUBLE) * rel
              ELSE CAST({_MMR_LAM} AS DOUBLE) * rel
                   - CAST({1.0 - _MMR_LAM} AS DOUBLE) * ms END AS psc
  FROM {prev} ORDER BY psc DESC, vec_id LIMIT 1
), s{i} AS (
  SELECT s.vec_id, s.v, s.rel,
         greatest(coalesce(s.ms, -1e18), {duck_cos("s.v", "p.pv")}) AS ms
  FROM {prev} s, p{i} p WHERE s.vec_id <> p.pid
)""")
    picks_sql = "\nUNION ALL\n".join(
            f"SELECT {j} AS rnk, pid AS vec_id, "
            f"round(prel + 1e-9, 6) AS relevance, "
            f"round(psc + 1e-9, 6) AS score FROM p{j}"
            for j in range(1, _MMR_K + 1)
        )
    return f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1
), qid AS (
  SELECT min(vec_id) AS qid FROM embeddings
), cand AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), s0 AS (
  SELECT c.vec_id, c.v,
         {duck_cos("c.v", "q.qv")} AS rel,
         CAST(NULL AS DOUBLE) AS ms
  FROM cand c CROSS JOIN q CROSS JOIN qid
  WHERE c.vec_id <> qid.qid
),
{",".join(steps)}
SELECT * FROM ({picks_sql}) ORDER BY rnk
"""


@register("mmr_diversified_topk", oracle=_mmr_oracle())
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: Maximal Marginal Relevance diversified selection
    (operators/diversify.py, Carbonell & Goldstein 1998) — the curation
    step after similarity search: greedy picks trading relevance
    against similarity to the already-selected set (lam=0.5). Query =
    the min-vec_id embedding (excluded from candidates); 8 greedy
    rounds. The oracle unrolls the ENTIRE greedy trajectory in SQL
    (per-step argmax + running max-sim update, the kmeans/SemDeDup
    replay pattern), so a single wrong pick anywhere in the sequence
    hash-mismatches."""
    from whisper_pandas_spark.operators.diversify import mmr_select

    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    out = mmr_select(
        emb.where(F.col("vec_id") != qrow["vec_id"]),
        [float(x) for x in qrow["embedding"]],
        k=_MMR_K,
        lam=_MMR_LAM,
    )
    eps = F.lit(1e-9)
    return out.select(
        "rnk",
        "vec_id",
        F.round(F.col("relevance") + eps, 6).alias("relevance"),
        F.round(F.col("score") + eps, 6).alias("score"),
    ).orderBy("rnk")


# -- item-item collaborative filtering ----------------------------------------------


@register(
    "rec_item_cf_topk",
    oracle="""
WITH inc AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem
), ic AS (
  SELECT item, count(*) AS c FROM inc GROUP BY item
), pairs AS (
  SELECT a.item AS i, bb.item AS j, count(*) AS c_ij
  FROM inc a JOIN inc bb ON a.b = bb.b AND a.item <> bb.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
), scored AS (
  SELECT p.i, p.j, p.c_ij, ci.c AS c_i, cj.c AS c_j,
         CAST(p.c_ij AS DOUBLE)
           / sqrt(CAST(ci.c * cj.c AS DOUBLE)) AS sim
  FROM pairs p JOIN ic ci ON ci.item = p.i JOIN ic cj ON cj.item = p.j
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY i
                               ORDER BY sim DESC, c_ij DESC, j) AS rnk
  FROM scored
)
SELECT i AS item, j AS neighbor, CAST(c_ij AS BIGINT) AS c_ij,
       CAST(c_i AS BIGINT) AS c_i, CAST(c_j AS BIGINT) AS c_j, sim,
       CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
ORDER BY item, rnk
""",
)
def rec_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: item-item collaborative filtering (operators/itemcf.py,
    Sarwar 2001 / Amazon item-to-item) — top-5 cosine co-occurrence
    neighbors per part over order baskets, min 2 co-occurrences. The
    score is sqrt of an exact integer product + one division, so the
    full ranking replays bit-for-bit."""
    from whisper_pandas_spark.operators.itemcf import item_similarity_topk

    li = table(spark, sf_dir, "lineitem")
    return item_similarity_topk(
        li, "l_orderkey", "l_partkey", k=5, min_pairs=2
    ).orderBy("item", "rnk")


_ANN_K_CENT = 16   # codebook: first 16 corpus vectors (offline-codebook stand-in)
_ANN_NPROBE = 4
_ANN_N_CAND = 40   # ANN candidate pool handed to MMR
_ANN_MMR_K = 8
_ANN_MMR_LAM = 0.5  # exactly representable (DuckDB bare 0.5 is DECIMAL — cast)


def _mmr_steps(k: int, lam: float, prev0: str) -> str:
    """The unrolled greedy-MMR CTE chain over a candidate CTE named
    ``prev0`` with columns (vec_id, v, rel, ms) — shared shape with
    _mmr_oracle, parameterized for composition."""
    from whisper_pandas_spark.functions.duck import duck_cos

    steps = []
    for i in range(1, k + 1):
        prev = prev0 if i == 1 else f"s{i - 1}"
        steps.append(f"""p{i} AS (
  SELECT vec_id AS pid, v AS pv, rel AS prel,
         CASE WHEN ms IS NULL THEN CAST({lam} AS DOUBLE) * rel
              ELSE CAST({lam} AS DOUBLE) * rel
                   - CAST({1.0 - lam} AS DOUBLE) * ms END AS psc
  FROM {prev} ORDER BY psc DESC, vec_id LIMIT 1
), s{i} AS (
  SELECT s.vec_id, s.v, s.rel,
         greatest(coalesce(s.ms, -1e18), {duck_cos("s.v", "p.pv")}) AS ms
  FROM {prev} s, p{i} p WHERE s.vec_id <> p.pid
)""")
    return ",\n".join(steps)


def _mmr_ann_oracle() -> str:
    from whisper_pandas_spark.functions.duck import duck_cos

    picks_sql = "\nUNION ALL\n".join(
        f"SELECT {j} AS rnk, pid AS vec_id, "
        f"round(prel + 1e-9, 6) AS relevance, "
        f"round(psc + 1e-9, 6) AS score FROM p{j}"
        for j in range(1, _ANN_MMR_K + 1)
    )
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS centroid FROM embeddings
  WHERE vec_id < {_ANN_K_CENT}
), qid AS (SELECT min(vec_id) AS qid FROM embeddings),
q AS (
  SELECT e.embedding::DOUBLE[] AS qv, e.vec_id AS qid
  FROM embeddings e JOIN qid ON e.vec_id = qid.qid
), corpus_scored AS (
  SELECT e.vec_id, e.embedding AS cvec, c.cid,
         {duck_cos("e.embedding", "c.centroid")} AS ccos
  FROM embeddings e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, cvec, cid AS cell FROM (
    SELECT vec_id, cvec, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY ccos DESC, cid) AS rn
    FROM corpus_scored
  ) WHERE rn = 1
), probes AS (
  SELECT cid AS cell FROM (
    SELECT c.cid,
           row_number() OVER (ORDER BY {duck_cos("q.qv", "c.centroid")} DESC,
                              c.cid) AS rn
    FROM cent c CROSS JOIN q
  ) WHERE rn <= {_ANN_NPROBE}
), cand0 AS (
  SELECT s.vec_id, s.cvec::DOUBLE[] AS v,
         round({duck_cos("q.qv", "s.cvec")}, 6) AS cos_sim
  FROM cells s JOIN probes USING (cell) CROSS JOIN q
  WHERE s.vec_id <> q.qid
), cand AS (
  SELECT vec_id, v FROM (
    SELECT vec_id, v,
           row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rn
    FROM cand0
  ) WHERE rn <= {_ANN_N_CAND}
), s0 AS (
  SELECT c.vec_id, c.v,
         {duck_cos("c.v", "q.qv")} AS rel,
         CAST(NULL AS DOUBLE) AS ms
  FROM cand c CROSS JOIN q
),
{_mmr_steps(_ANN_MMR_K, _ANN_MMR_LAM, "s0")}
SELECT * FROM ({picks_sql}) ORDER BY rnk
"""


@register("mmr_diversified_ann", oracle=_mmr_ann_oracle())
def mmr_diversified_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/Y+ composition: similarity search BOUNDS the pool, MMR curates
    it — IVF-flat ANN (16 first-vector cells, nprobe=4) produces the
    top-40 candidates for the min-vec_id query, then exact greedy MMR
    (lam=0.5, k=8) runs over ONLY those 40 — inside mmr_select's
    max_candidates contract instead of fighting it. This is the 100 TB
    shape: the k*O(candidates) exact stage never sees the corpus, only
    the ANN survivors. Oracle replays the IVF assignment/probe/cut AND
    the full greedy trajectory, so a wrong candidate set or a wrong
    pick anywhere hash-mismatches."""
    from whisper_pandas_spark.operators.diversify import mmr_select
    from whisper_pandas_spark.operators.similarity import cosine_topk_ivf

    emb = table(spark, sf_dir, "embeddings")
    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    cent = emb.filter(F.col("vec_id") < _ANN_K_CENT)
    q = emb.filter(F.col("vec_id") == qrow["vec_id"])
    cand_ids = cosine_topk_ivf(emb, q, _ANN_N_CAND, cent, _ANN_NPROBE).select(
        "vec_id"
    )
    cand = emb.join(F.broadcast(cand_ids), "vec_id")
    out = mmr_select(
        cand,
        [float(x) for x in qrow["embedding"]],
        k=_ANN_MMR_K,
        lam=_ANN_MMR_LAM,
        max_candidates=_ANN_N_CAND,
    )
    eps = F.lit(1e-9)
    return out.select(
        "rnk",
        "vec_id",
        F.round(F.col("relevance") + eps, 6).alias("relevance"),
        F.round(F.col("score") + eps, 6).alias("score"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# emb_kmeans_int8
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2
_KM_DIM = 64


def _km_dist(vq: str, cq: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform(range(1, {_KM_DIM} + 1),"
        f" i -> ({vq}[CAST(i AS INT)] - {cq}[CAST(i AS INT)])"
        f" * ({vq}[CAST(i AS INT)] - {cq}[CAST(i AS INT)]))),"
        " (a, x) -> a + x)"
    )


def _kmeans_oracle() -> str:
    """CTE chain replaying the exact iteration history: codes -> c0 ->
    (assign -> floored-integer-mean update) x iters -> final assign ->
    per-cluster audit. Generated programmatically so the Spark loop and
    the SQL replay can never drift in iteration count."""

    k, dim = _KM_K, _KM_DIM
    ctes = [
        f"""codes AS (
  SELECT vec_id, {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q
  FROM codes ORDER BY vec_id LIMIT {k}
)""",
    ]
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, cid AS cluster, dist FROM (
    SELECT v.vec_id, c.cid, {_km_dist("v.q", "c.q")} AS dist,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {_km_dist("v.q", "c.q")}, c.cid) AS rn
    FROM codes v CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""u{it} AS (
  SELECT a.cluster AS cid, CAST(t.d AS INT) AS dim,
    CAST(floor(CAST(CAST(sum(v.q[CAST(t.d + 1 AS INT)]) AS BIGINT) AS DOUBLE)
               / count(*)) AS BIGINT) AS comp
  FROM a{it} a JOIN codes v USING (vec_id)
  CROSS JOIN range(0, {dim}) t(d)
  GROUP BY a.cluster, t.d
)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT p.cid, array_agg(coalesce(u.comp, p.q[pd.d + 1]) ORDER BY pd.d) AS q
  FROM {prev} p CROSS JOIN range(0, {dim}) pd(d)
  LEFT JOIN u{it} u ON u.cid = p.cid AND u.dim = pd.d
  GROUP BY p.cid
)"""
        )
        prev = f"c{it}"
    final = _KM_ITERS + 1
    ctes.append(
        f"""a{final} AS (
  SELECT vec_id, cid AS cluster, dist FROM (
    SELECT v.vec_id, c.cid, {_km_dist("v.q", "c.q")} AS dist,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {_km_dist("v.q", "c.q")}, c.cid) AS rn
    FROM codes v CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT cluster, CAST(count(*) AS BIGINT) AS size,
  CAST(sum(vec_id) AS BIGINT) AS id_sum,
  CAST(sum(dist) AS BIGINT) AS inertia
FROM a{final} GROUP BY cluster ORDER BY cluster
"""
    )


@register("emb_kmeans_int8", oracle=_kmeans_oracle())
def emb_kmeans_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: distributed Lloyd's k-means over int8 codes with EXACT
    integer distances and floored-integer-mean updates
    (operators/kmeans.py) — the auditable clustering front-end for
    SemDeDup cells / domain mixtures / IVF training. Assign is a
    map-side Arrow pass (centroid matrix in the closure, vectorized
    exact-int64 numpy distances; zero shuffle); codes materialize once
    per run; update is one (cluster, dim) partial-agg exchange + a
    k x dim bounded collect per iteration. The oracle replays the FULL iteration history in SQL
    (generated CTE chain — same iteration count by construction)."""
    from whisper_pandas_spark.operators.kmeans import (
        kmeans_int8,
        kmeans_summary,
    )

    emb = table(spark, sf_dir, "embeddings")
    assigned = kmeans_int8(emb, "vec_id", "embedding", k=_KM_K, iters=_KM_ITERS)
    return kmeans_summary(assigned, "vec_id").orderBy("cluster")


# ---------------------------------------------------------------------------
# emb_rp_topk
# ---------------------------------------------------------------------------
# JL random projection: 64-dim int8 codes -> 16-dim exact-integer
# projected vectors (md5 +-1 signs), brute top-k in PROJECTED space,
# with per-pair membership in the FULL-dimensional integer-dot top-k
# joined alongside (the in-query recall audit). Everything is exact
# BIGINT arithmetic, so the oracle replays projection, both rankings,
# and the flag bit-for-bit.

_RP_K = 10
_RP_NQ = 5
_RP_IN_DIM = 64


def _rp_oracle() -> str:
    from whisper_pandas_spark.operators.randproj import RP_OUT_DIM, rp_duck_sign

    dot_p = (
        "CAST(list_reduce(list_prepend(0::BIGINT,"
        " list_transform(range(1, {n} + 1),"
        " i -> a.p[CAST(i AS INT)] * b.p[CAST(i AS INT)])),"
        " (acc, x) -> acc + x) AS BIGINT)"
    ).format(n=RP_OUT_DIM)
    dot_q = (
        "CAST(list_reduce(list_prepend(0::BIGINT,"
        f" list_transform(range(1, {_RP_IN_DIM} + 1),"
        " i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])),"
        " (acc, x) -> acc + x) AS BIGINT)"
    )
    return f"""
WITH codes AS (
  SELECT vec_id, {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
), proj AS (
  SELECT vec_id, t.j,
    CAST(list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, {_RP_IN_DIM} + 1),
        d -> q[CAST(d AS INT)] * {rp_duck_sign("d - 1", "t.j")})),
      (acc, x) -> acc + x) AS BIGINT) AS pv
  FROM codes CROSS JOIN range(0, {RP_OUT_DIM}) t(j)
), parr AS (
  SELECT vec_id, array_agg(pv ORDER BY j) AS p FROM proj GROUP BY vec_id
), fullrank AS (
  SELECT a.vec_id AS query_id, b.vec_id, {dot_q} AS dot_q,
    row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY {dot_q} DESC, b.vec_id) AS frnk
  FROM codes a JOIN codes b ON a.vec_id < {_RP_NQ} AND a.vec_id != b.vec_id
), projrank AS (
  SELECT a.vec_id AS query_id, b.vec_id, {dot_p} AS dot_p,
    row_number() OVER (PARTITION BY a.vec_id
                       ORDER BY {dot_p} DESC, b.vec_id) AS rnk
  FROM parr a JOIN parr b ON a.vec_id < {_RP_NQ} AND a.vec_id != b.vec_id
)
SELECT p.query_id, p.vec_id, p.dot_p, p.rnk,
  coalesce(f.frnk <= {_RP_K}, false) AS in_full_topk
FROM projrank p
LEFT JOIN fullrank f ON f.query_id = p.query_id AND f.vec_id = p.vec_id
WHERE p.rnk <= {_RP_K}
ORDER BY p.query_id, p.rnk
"""


@register("emb_rp_topk", oracle=_rp_oracle())
def emb_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: Johnson-Lindenstrauss random projection ANN
    (operators/randproj.py) — 64-dim int8 codes projected to 16 dims by
    the md5 +-1 sign matrix (one map-side Arrow int64 matmul, zero
    shuffle), brute top-{_RP_K} by exact integer dot in PROJECTED space
    (4x cheaper per pair), with membership in the full-dimensional
    integer-dot top-{_RP_K} joined alongside as the in-query recall
    audit. All arithmetic is exact BIGINT, so projection, both
    rankings, and the recall flag replay bit-for-bit in SQL."""
    from pyspark.sql import Window

    from whisper_pandas_spark.operators.kmeans import int8_codes
    from whisper_pandas_spark.operators.randproj import (
        RP_OUT_DIM,
        rp_project_int8,
    )

    emb = table(spark, sf_dir, "embeddings")
    codes = stage_materialize(int8_codes(emb, "vec_id", "embedding"))
    proj = stage_materialize(
        rp_project_int8(emb, "vec_id", "embedding", _RP_IN_DIM, RP_OUT_DIM)
    )

    def topk(df: DataFrame, vcol: str, n: int, out_dot: str, out_rnk: str):
        q = df.filter(F.col("vec_id") < _RP_NQ).select(
            F.col("vec_id").alias("query_id"), F.col(vcol).alias("qv")
        )
        dot = F.expr(
            f"aggregate(zip_with(qv, {vcol}, (x, y) -> x * y), 0L,"
            " (acc, v) -> acc + v)"
        )
        scored = (
            df.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", dot.alias(out_dot))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col(out_dot).desc(), F.col("vec_id")
        )
        return scored.withColumn(out_rnk, F.row_number().over(w))

    pr = topk(proj, "p", RP_OUT_DIM, "dot_p", "rnk").filter(
        F.col("rnk") <= _RP_K
    )
    fr = topk(codes, "q", _RP_IN_DIM, "dot_q", "frnk").filter(
        F.col("frnk") <= _RP_K
    ).select("query_id", "vec_id", F.lit(True).alias("__in"))
    return (
        pr.join(fr, ["query_id", "vec_id"], "left")
        .select(
            "query_id", "vec_id", "dot_p", "rnk",
            F.coalesce("__in", F.lit(False)).alias("in_full_topk"),
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# emb_pca_top_component
# ---------------------------------------------------------------------------

_PCA_DIM = 64


def _pca_stages() -> str:
    """Shared WITH-prefix: codes -> centered codes -> exact int64 Gram ->
    unrolled power iteration -> the top-component array `va` (and the
    final norm `n_<iters>`). Reused by _pca_oracle and _abtt_oracle —
    same generator, so the two entries can never drift."""
    from whisper_pandas_spark.operators.pca import PCA_ITERS

    n = _PCA_DIM
    fold = "list_reduce(list_prepend(0.0::DOUBLE, {arr}), (x, y) -> x + y)"
    stages = []
    prev = "v_0"
    for k in range(1, PCA_ITERS + 1):
        wagg = fold.format(
            arr="array_agg(CAST(c.c AS DOUBLE) * v.val ORDER BY c.b)"
        )
        nagg = fold.format(arr="array_agg(wv * wv ORDER BY dim)")
        stages.append(f"""w_{k} AS MATERIALIZED (
  SELECT c.a AS dim, {wagg} AS wv
  FROM cmat c JOIN {prev} v ON v.dim = c.b
  GROUP BY c.a
),
n_{k} AS MATERIALIZED (
  SELECT sqrt({nagg}) AS nv FROM w_{k}
),
v_{k} AS MATERIALIZED (
  SELECT dim, wv / nv AS val FROM w_{k} CROSS JOIN n_{k}
)""")
        prev = f"v_{k}"
    stage_sql = ",\n".join(stages)
    return f"""codes AS MATERIALIZED (
  SELECT vec_id, {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
), mu AS MATERIALIZED (
  SELECT CAST(t.d AS INT) AS d,
    CAST(floor(CAST(CAST(sum(q[CAST(t.d + 1 AS INT)]) AS BIGINT) AS DOUBLE)
               / count(*)) AS BIGINT) AS mu
  FROM codes CROSS JOIN range(0, {n}) t(d) GROUP BY t.d
), mua AS (
  SELECT array_agg(mu ORDER BY d) AS m FROM mu
), qcs AS MATERIALIZED (
  SELECT vec_id,
    list_transform(range(1, {n} + 1),
      i -> q[CAST(i AS INT)] - m[CAST(i AS INT)]) AS qc
  FROM codes CROSS JOIN mua
), cmat AS MATERIALIZED (
  SELECT CAST(a.d AS INT) AS a, CAST(b.d AS INT) AS b,
    CAST(sum(qc[CAST(a.d + 1 AS INT)] * qc[CAST(b.d + 1 AS INT)]) AS BIGINT)
      AS c
  FROM qcs CROSS JOIN range(0, {n}) a(d) CROSS JOIN range(0, {n}) b(d)
  GROUP BY 1, 2
), v_0 AS (
  SELECT CAST(d AS INT) AS dim, 0.125::DOUBLE AS val FROM range(0, {n}) t(d)
),
{stage_sql},
va AS (
  SELECT array_agg(val ORDER BY dim) AS v FROM v_{PCA_ITERS}
)
"""


def _pca_fold(arr: str) -> str:
    return f"list_reduce(list_prepend(0.0::DOUBLE, {arr}), (x, y) -> x + y)"


def _pca_proj_sql() -> str:
    n = _PCA_DIM
    return _pca_fold(
        f"list_transform(range(1, {n} + 1),"
        " i -> CAST(qc[CAST(i AS INT)] AS DOUBLE) * va.v[CAST(i AS INT)])"
    )


def _pca_oracle() -> str:
    from whisper_pandas_spark.operators.pca import PCA_ITERS

    return f"""
WITH {_pca_stages()}
SELECT q.vec_id, round({_pca_proj_sql()}, 6) AS proj,
  round((SELECT nv FROM n_{PCA_ITERS}), 6) AS eig
FROM qcs q CROSS JOIN va
ORDER BY q.vec_id
"""


@register("emb_pca_top_component", oracle=_pca_oracle())
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: corpus top principal component by power iteration
    (operators/pca.py) — the all-but-the-top / whitening primitive:
    centered int8 codes (exact BIGINT), exact int64 Gram matrix via
    per-batch Arrow matmuls + one bounded exchange, driver-side
    left-to-right-fold power iteration from v0 = 1/8, and a map-side
    dimension-sequential Arrow projection pass — every double matches
    the SQL replay bit-for-bit (the oracle unrolls all iterations as
    materialized CTE stages with ORDER BY folds)."""
    from whisper_pandas_spark.operators.pca import pca_top_component

    emb = table(spark, sf_dir, "embeddings")
    return pca_top_component(emb, "vec_id", "embedding", _PCA_DIM).orderBy(
        "vec_id"
    )


# ---------------------------------------------------------------------------
# emb_abtt_topk
# ---------------------------------------------------------------------------

_ABTT_K = 10
_ABTT_NQ = 5


def _abtt_oracle() -> str:
    n = _PCA_DIM
    proj = _pca_proj_sql()
    dot = _pca_fold(
        f"list_transform(range(1, {n} + 1),"
        " i -> qq.a[CAST(i AS INT)] * dd.a[CAST(i AS INT)])"
    )
    return f"""
WITH {_pca_stages()},
pr AS MATERIALIZED (
  SELECT q.vec_id, q.qc, {proj} AS proj FROM qcs q CROSS JOIN va
),
qa AS MATERIALIZED (
  SELECT p.vec_id,
    list_transform(range(1, {n} + 1),
      i -> CAST(p.qc[CAST(i AS INT)] AS DOUBLE)
           - p.proj * va.v[CAST(i AS INT)]) AS a
  FROM pr p CROSS JOIN va
),
scored AS (
  SELECT qq.vec_id AS query_id, dd.vec_id, {dot} AS rawdot
  FROM qa qq JOIN qa dd
    ON qq.vec_id < {_ABTT_NQ} AND qq.vec_id != dd.vec_id
), ranked AS (
  SELECT query_id, vec_id, rawdot,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY rawdot DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(rawdot, 6) AS dot, rnk
FROM ranked WHERE rnk <= {_ABTT_K}
ORDER BY query_id, rnk
"""


@register("emb_abtt_topk", oracle=_abtt_oracle())
def emb_abtt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: all-but-the-top corrected similarity (Mu & Viswanath 2018)
    — the standard embedding post-processing: remove the corpus top
    component (operators/pca.py:abtt_correct, pinned arithmetic over
    centered int8 codes) and rank by dot product in the CORRECTED
    space. Completes the PCA story: emb_pca_top_component finds the
    common direction, this entry searches without it. Every double
    (projection, correction, pairwise dots, ranking) replays
    bit-for-bit via the shared _pca_stages oracle prefix."""
    from pyspark.sql import Window

    from whisper_pandas_spark.operators.pca import abtt_correct

    emb = table(spark, sf_dir, "embeddings")
    qa = stage_materialize(abtt_correct(emb, "vec_id", "embedding", _PCA_DIM))
    q = qa.filter(F.col("vec_id") < _ABTT_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("a").alias("qv")
    )
    dot = F.expr(
        "aggregate(zip_with(qv, a, (x, y) -> x * y),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    scored = qa.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id", dot.alias("rawdot"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rawdot").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ABTT_K)
        .select(
            "query_id", "vec_id", F.round("rawdot", 6).alias("dot"), "rnk"
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# emb_hard_negatives
# ---------------------------------------------------------------------------
# Contrastive-training prep: for each query vector, the top-k NEAREST
# vectors with a DIFFERENT label (hard negatives — the pairs that teach
# a contrastive model the most; Robinson et al. 2021). Exact integer
# code dots (the emb_int8_topk arithmetic) + the label predicate INSIDE
# the join condition, so excluded same-label pairs never rank.

_HN_K = 5
_HN_NQ = 5


def _hn_oracle() -> str:

    dot = (
        "CAST(list_reduce(list_prepend(0::BIGINT,"
        " list_transform(range(1, 65),"
        " i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])),"
        " (acc, x) -> acc + x) AS BIGINT)"
    )
    return f"""
WITH codes AS (
  SELECT vec_id, label,
    {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS query_id, a.label AS query_label,
         b.vec_id, b.label AS neg_label, {dot} AS dot_q
  FROM codes a JOIN codes b
    ON a.vec_id < {_HN_NQ} AND a.label != b.label
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot_q DESC, vec_id) AS rnk
  FROM scored
)
SELECT query_id, query_label, vec_id, neg_label, dot_q, rnk
FROM ranked WHERE rnk <= {_HN_K}
ORDER BY query_id, rnk
"""


@register("emb_hard_negatives", oracle=_hn_oracle())
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+: hard-negative mining for contrastive training — per query,
    the top-{_HN_K} NEAREST vectors with a DIFFERENT label (exact
    integer code dots; the label predicate lives in the join condition,
    so same-label pairs never materialize). Broadcast query side,
    per-query rank — the sim_topk reduction with a semantic filter."""
    from pyspark.sql import Window

    from whisper_pandas_spark.operators.kmeans import int8_codes

    emb = table(spark, sf_dir, "embeddings")
    codes = int8_codes(emb, "vec_id", "embedding").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    q = codes.filter(F.col("vec_id") < _HN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("qv"),
    )
    dot = F.expr(
        "aggregate(zip_with(qv, q, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
    )
    scored = codes.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id", "query_label", "vec_id",
        F.col("label").alias("neg_label"), dot.alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _HN_K)
        .select("query_id", "query_label", "vec_id", "neg_label",
                "dot_q", "rnk")
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# dedup_semdedup
# ---------------------------------------------------------------------------
# Fixture: the full `embeddings` table (500 rows at sf0.01 / 2000 at
# sf0.1 — small enough that the oracle's in-cell pair join is cheap),
# plus two planted near-dup strata — % 8 == 0 re-enters VERBATIM as
# vec_id + 1e6 (code-space cosine exactly 1), % 8 == 4 re-enters as
# vec_id + 2e6 with dim0 shifted by +0.25 (a real perturbation:
# different codes, cosine ~0.98-0.99). All fixture arithmetic is
# float->double widening plus one exactly-representable +0.25 — no
# engine-dependent float path.

_SD_K = 32
_SD_ITERS = 2
_SD_DIM = 64


def _sd_dist(vq: str, cq: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform(range(1, {_SD_DIM} + 1),"
        f" i -> ({vq}[CAST(i AS INT)] - {cq}[CAST(i AS INT)])"
        f" * ({vq}[CAST(i AS INT)] - {cq}[CAST(i AS INT)]))),"
        " (a, x) -> a + x)"
    )


def _semdedup_oracle() -> str:
    from whisper_pandas_spark.operators.semdedup import THETA_DEN, THETA_NUM

    k, dim = _SD_K, _SD_DIM
    dbl = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
    ctes = [
        f"""fix AS (
  SELECT vec_id, {dbl} AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, {dbl} FROM embeddings WHERE vec_id % 8 = 0
  UNION ALL
  SELECT vec_id + 2000000,
         list_concat([CAST(embedding[1] AS DOUBLE) + 0.25],
                     list_transform(embedding[2:], x -> CAST(x AS DOUBLE)))
  FROM embeddings WHERE vec_id % 8 = 4
)""",
        f"""codes AS (
  SELECT vec_id, {_duck_codes("e", _duck_scale("e"))} AS q FROM fix
)""",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q
  FROM codes ORDER BY vec_id LIMIT {k}
)""",
    ]
    prev = "c0"
    for it in range(1, _SD_ITERS + 1):
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT v.vec_id, c.cid,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {_sd_dist("v.q", "c.q")}, c.cid) AS rn
    FROM codes v CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""u{it} AS (
  SELECT a.cluster AS cid, CAST(t.d AS INT) AS dim,
    CAST(floor(CAST(CAST(sum(v.q[CAST(t.d + 1 AS INT)]) AS BIGINT) AS DOUBLE)
               / count(*)) AS BIGINT) AS comp
  FROM a{it} a JOIN codes v USING (vec_id)
  CROSS JOIN range(0, {dim}) t(d)
  GROUP BY a.cluster, t.d
)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT p.cid, array_agg(coalesce(u.comp, p.q[pd.d + 1]) ORDER BY pd.d) AS q
  FROM {prev} p CROSS JOIN range(0, {dim}) pd(d)
  LEFT JOIN u{it} u ON u.cid = p.cid AND u.dim = pd.d
  GROUP BY p.cid
)"""
        )
        prev = f"c{it}"
    final = _SD_ITERS + 1
    dot = (
        f"list_reduce(list_prepend(0::BIGINT,"
        f" list_transform(range(1, {dim} + 1),"
        f" i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])),"
        " (x, y) -> x + y)"
    )
    ctes.append(
        f"""a{final} AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT v.vec_id, c.cid,
      row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {_sd_dist("v.q", "c.q")}, c.cid) AS rn
    FROM codes v CROSS JOIN {prev} c
  ) WHERE rn = 1
)"""
    )
    ctes.append(
        f"""cc AS (
  SELECT a.vec_id, a.cluster, v.q,
         {_duck_isum("list_transform(v.q, x -> x * x)")} AS nn
  FROM a{final} a JOIN codes v USING (vec_id)
)"""
    )
    ctes.append(
        f"""pr AS (
  SELECT b.vec_id AS vid, {dot} AS dot, a.nn AS na, b.nn AS nb
  FROM cc a JOIN cc b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)"""
    )
    ctes.append(
        f"""drops AS (
  SELECT DISTINCT vid FROM pr
  WHERE dot > 0 AND dot * dot * {THETA_DEN} >= {THETA_NUM} * na * nb
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + """
SELECT c.vec_id, c.cluster,
  (c.vec_id NOT IN (SELECT vid FROM drops)) AS kept
FROM cc c ORDER BY vec_id
"""
    )


def _sd_fixture(emb: DataFrame) -> DataFrame:
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", dbl.alias("e"))
    dup_a = emb.filter(F.col("vec_id") % 8 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), dbl.alias("e")
    )
    dup_b = emb.filter(F.col("vec_id") % 8 == 4).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1).cast("double") + 0.25),
            F.slice(dbl, 2, _SD_DIM - 1),
        ).alias("e"),
    )
    return base.unionByName(dup_a).unionByName(dup_b)


@register("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/X3 composition: SemDeDup (operators/semdedup.py; Abbas et
    al. 2023) — semantic near-dup removal inside exact-integer
    int8-kmeans cells, min-id canonical, with the cosine gate in PURE
    BIGINT arithmetic (theta^2 = 9409/10000) so the dropped set is
    bit-reproducible with no float tolerance. The oracle replays the
    full clustering iteration history AND the in-cell pairwise gate
    value-exactly. Plan: audited kmeans stages + ONE cluster-keyed
    shuffle of (id, int8 codes) into a vectorized int64 Gram pass per
    cell — the cell quadratic is bounded by corpus/k (raise k at
    scale, per the paper), everything across cells is parallel."""
    from whisper_pandas_spark.operators.semdedup import semdedup

    emb = table(spark, sf_dir, "embeddings")
    fix = _sd_fixture(emb)
    return semdedup(
        fix, "vec_id", "e", k=_SD_K, iters=_SD_ITERS
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# emb_ann_recall_audit
# ---------------------------------------------------------------------------

_ANN_NQ = 5  # queries = vec_id < 5 (every ANN entry's fixture)


def _ann_audit_oracle() -> str:
    """One comparable table for all four ANN paths: each method's
    top-k (its OWN family entry's exact ranking semantics) scored
    against the float-cosine brute-force truth, plus its candidate
    volume. Sub-chains are the per-family oracle builders' fragments;
    multiply-referenced CTEs are MATERIALIZED (DuckDB inlines CTEs by
    default — the doremi lesson)."""
    from whisper_pandas_spark.functions.duck import duck_cos
    from whisper_pandas_spark.operators.randproj import (
        RP_OUT_DIM,
        rp_duck_sign,
    )

    conds = []
    for t in range(N_TABLES):
        planes = [_hyperplane(t, p, DIM) for p in range(N_PLANES_MULTI)]
        conds.append(
            f"{_duck_bucket('c.embedding', planes)} = "
            f"{_duck_bucket('q.embedding', planes)}"
        )
    any_table = " OR ".join(conds)
    ivf_iters = ",\n".join(
        _kmeans_iter_sql(f"cent{i}" if i else "cent0", i + 1)
        for i in range(KM_ITERS)
    )
    dot2 = _duck_isum(
        "list_transform(range(1, len(doc_q)+1), i -> qry_q[i] * doc_q[i])"
    )
    dot_p = (
        "CAST(list_reduce(list_prepend(0::BIGINT,"
        f" list_transform(range(1, {RP_OUT_DIM} + 1),"
        " i -> a.p[CAST(i AS INT)] * b.p[CAST(i AS INT)])),"
        " (acc, x) -> acc + x) AS BIGINT)"
    )

    def summary(method: str, top: str, cand_total: str) -> str:
        hits = (
            f"(SELECT CAST(count(*) AS BIGINT) FROM {top} t "
            f"JOIN truth u ON t.query_id = u.query_id "
            f"AND t.vec_id = u.vec_id)"
        )
        return f"""SELECT '{method}' AS method,
  CAST({_ANN_NQ} AS BIGINT) AS n_queries, CAST({K} AS INT) AS k,
  {hits} AS hits,
  round({hits} / {float(K * _ANN_NQ)} + 1e-9, 6) AS recall_at_k,
  {cand_total} AS cand_total,
  round({cand_total} / {float(_ANN_NQ)} + 1e-9, 6) AS avg_candidates"""

    return f"""
WITH {_pq_chain()},
q5 AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_ANN_NQ}
),
truth AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id,
      row_number() OVER (PARTITION BY q.vec_id
        ORDER BY round({duck_cos("c.embedding", "q.embedding")}, 6) DESC,
                 c.vec_id) AS rnk
    FROM embeddings c CROSS JOIN q5 q WHERE c.vec_id != q.vec_id
  ) WHERE rnk <= {K}
),
nvec AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
cand1 AS MATERIALIZED (
  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qvec,
                  c.vec_id, c.embedding AS cvec
  FROM embeddings c JOIN q5 q ON ({any_table})
  WHERE c.vec_id != q.vec_id
),
top1 AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY round({duck_cos("qvec", "cvec")}, 6) DESC, vec_id) AS rnk
    FROM cand1
  ) WHERE rnk <= {K}
),
sqcent AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS centroid FROM embeddings
  WHERE vec_id < {IVF_K_CENTROIDS}
),
cells2 AS MATERIALIZED (
  SELECT vec_id AS doc_id, cid AS cell,
         {_duck_scale("v")} AS doc_scale,
         {_duck_codes("v", _duck_scale("v"))} AS doc_q
  FROM (
    SELECT e.vec_id, e.embedding AS v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN sqcent c
  ) WHERE rn = 1
),
probes2 AS MATERIALIZED (
  SELECT vec_id AS qry_id, cid AS cell,
         {_duck_scale("v")} AS qry_scale,
         {_duck_codes("v", _duck_scale("v"))} AS qry_q
  FROM (
    SELECT e.vec_id, e.embedding AS v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN sqcent c WHERE e.vec_id < {_ANN_NQ}
  ) WHERE rn <= {IVF_NPROBE}
),
cand2 AS MATERIALIZED (
  SELECT p.qry_id AS query_id, s.doc_id AS vec_id,
         {dot2} AS dot_q, p.qry_scale, s.doc_scale
  FROM cells2 s JOIN probes2 p USING (cell)
  WHERE s.doc_id != p.qry_id
),
top2 AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY round(dot_q::DOUBLE * qry_scale * doc_scale / 16129.0, 6)
                 DESC, vec_id) AS rnk
    FROM cand2
  ) WHERE rnk <= {K}
),
init AS (
  SELECT vec_id, embedding, md5('0:' || vec_id) AS h
  FROM embeddings ORDER BY h LIMIT {KM_K}
),
cent0 AS (
  SELECT row_number() OVER (ORDER BY h) - 1 AS cid,
         embedding::DOUBLE[] AS centroid
  FROM init
),
{ivf_iters},
cellsv AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent{KM_ITERS} c
  ) WHERE rn = 1
),
probes3 AS MATERIALIZED (
  SELECT query_id, cid AS cell FROM (
    SELECT e.vec_id AS query_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY {duck_cos("e.embedding", "c.centroid")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent{KM_ITERS} c
    WHERE e.vec_id < {_ANN_NQ}
  ) WHERE rn <= {_PQ_NPROBE}
),
cand3 AS MATERIALIZED (
  SELECT p.query_id, v.vec_id
  FROM cellsv v JOIN probes3 p USING (cell)
  WHERE v.vec_id != p.query_id
),
scored3 AS MATERIALIZED (
  SELECT p.query_id, c.vec_id, CAST(sum(t.d) AS DOUBLE) AS adc_dist
  FROM codes c
  JOIN cellsv v ON v.vec_id = c.vec_id
  JOIN probes3 p ON p.cell = v.cell
  JOIN dtable t ON t.query_id = p.query_id AND t.sub = c.sub
               AND t.code = c.code
  WHERE c.vec_id != p.query_id
  GROUP BY p.query_id, c.vec_id
),
top3 AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY adc_dist, vec_id) AS rnk
    FROM scored3
  ) WHERE rnk <= {K}
),
codes4 AS MATERIALIZED (
  SELECT vec_id, {_duck_codes("embedding", _duck_scale("embedding"))} AS q
  FROM embeddings
),
proj4 AS MATERIALIZED (
  SELECT vec_id, t.j,
    CAST(list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, {DIM} + 1),
        d -> q[CAST(d AS INT)] * {rp_duck_sign("d - 1", "t.j")})),
      (acc, x) -> acc + x) AS BIGINT) AS pv
  FROM codes4 CROSS JOIN range(0, {RP_OUT_DIM}) t(j)
),
parr4 AS MATERIALIZED (
  SELECT vec_id, array_agg(pv ORDER BY j) AS p FROM proj4 GROUP BY vec_id
),
top4 AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id,
      row_number() OVER (PARTITION BY a.vec_id
        ORDER BY {dot_p} DESC, b.vec_id) AS rnk
    FROM parr4 a JOIN parr4 b
      ON a.vec_id < {_ANN_NQ} AND a.vec_id != b.vec_id
  ) WHERE rnk <= {K}
)
{summary("ivf_pq", "top3", "(SELECT CAST(count(*) AS BIGINT) FROM cand3)")}
UNION ALL
{summary("ivf_sq8", "top2", "(SELECT CAST(count(*) AS BIGINT) FROM cand2)")}
UNION ALL
{summary("jl_rp", "top4",
         f"(SELECT CAST({_ANN_NQ} * (n - 1) AS BIGINT) FROM nvec)")}
UNION ALL
{summary("lsh_multi", "top1",
         "(SELECT CAST(count(*) AS BIGINT) FROM cand1)")}
ORDER BY method
"""


@register("emb_ann_recall_audit", oracle=_ann_audit_oracle())
def emb_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3+/Y162: the ANN recall/cost audit (VERDICT r13 #8) — one
    fixture, four ANN paths (LSH-multi, IVF-SQ8, IVF-PQ, JL random
    projection), each scored against the float-cosine brute-force
    truth IN-QUERY: recall@k plus candidate volume as columns, turning
    the per-family recall assertions into one comparable,
    driver-checked table. Every method's top-k uses its own family
    entry's exact ranking semantics (round-6 cosine / rescored int8
    dot / ADC / projected integer dot), candidate sets come from the
    SAME operators the serving paths use (ivf_assign, lsh_bucket), and
    hits/candidate totals are exact BIGINTs — the oracle replays all
    four pipelines plus the truth ranking. jl_rp's candidate count is
    N-1 by design: JL trades PER-CANDIDATE cost (16-dim integer dot),
    not candidate volume."""
    from whisper_pandas_spark.operators.embeddings import (
        int8_topk_ivf,
        pq_topk_ivf,
        pq_train,
    )
    from whisper_pandas_spark.operators.kmeans import (
        int8_codes,
        kmeans_cosine,
    )
    from whisper_pandas_spark.operators.randproj import (
        RP_OUT_DIM,
        rp_project_int8,
    )
    from whisper_pandas_spark.operators.similarity import (
        cosine_topk_lsh_multi,
        ivf_assign,
        lsh_bucket,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _ANN_NQ)
    # 50 rows, read by all 4 hit joins
    truth = stage_materialize(
        cosine_topk(emb, q, K).select("query_id", "vec_id")
    )

    # 1) LSH-multi: union-of-tables bucket candidates, cosine rerank
    top1 = cosine_topk_lsh_multi(
        emb, q, K, DIM, N_TABLES, N_PLANES_MULTI
    ).select("query_id", "vec_id")

    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        tbs = []
        for t in range(N_TABLES):
            planes = [_hyperplane(t, p, DIM) for p in range(N_PLANES_MULTI)]
            tbs.append(
                F.struct(
                    F.lit(t).alias("t"),
                    lsh_bucket(F.col("embedding"), planes).alias("b"),
                )
            )
        return df.select(
            F.col("vec_id").alias(out_id),
            F.explode(F.array(*tbs)).alias("tb"),
        )

    cand1 = (
        bucketed(emb, "vec_id")
        .join(F.broadcast(bucketed(q, "query_id")), "tb")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )

    # 2) IVF-SQ8: first-16 fixed centroids, nprobe=4 (the family entry)
    cent2 = emb.filter(F.col("vec_id") < IVF_K_CENTROIDS)
    top2 = int8_topk_ivf(emb, q, K, cent2, IVF_NPROBE).select(
        "query_id", "vec_id"
    )

    def ivf_cand(cent: DataFrame, nprobe: int) -> DataFrame:
        cells = ivf_assign(emb, cent, 1).select("vec_id", "cell")
        probes = ivf_assign(q, cent, nprobe).select(
            F.col("vec_id").alias("query_id"), "cell"
        )
        return (
            cells.join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id")
        )

    cand2 = ivf_cand(cent2, IVF_NPROBE)

    # 3) IVF-PQ: both codebooks trained in-engine (the family entry)
    cb = pq_train(emb, DIM, _PQ_M, _PQ_K, iters=_PQ_ITERS, seed=0)
    cent3 = kmeans_cosine(emb, KM_K, KM_ITERS, seed=0).select(
        F.col("cid").alias("vec_id"), F.col("embedding")
    )
    top3 = pq_topk_ivf(
        emb, q, cb, cent3, K, DIM, _PQ_M, nprobe=_PQ_NPROBE
    ).select("query_id", "vec_id")
    cand3 = ivf_cand(cent3, _PQ_NPROBE)

    # 4) JL random projection: top-k by projected integer dot
    # Arrow matmul runs once for both sides
    proj = stage_materialize(
        rp_project_int8(emb, "vec_id", "embedding", DIM, RP_OUT_DIM)
    )
    pq_ = proj.filter(F.col("vec_id") < _ANN_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("qv")
    )
    dotp = F.expr(
        "aggregate(zip_with(qv, p, (x, y) -> x * y), 0L,"
        " (acc, v) -> acc + v)"
    )
    from whisper_pandas_spark.operators.similarity import two_stage_topk

    scored4 = (
        proj.join(F.broadcast(pq_), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dotp.alias("dot_p"))
    )
    top4 = two_stage_topk(scored4, K, score_col="dot_p").select(
        "query_id", "vec_id"
    )
    # JL scores every non-self pair (its lever is per-candidate cost)
    cand4_count = emb.agg(
        (F.lit(_ANN_NQ) * (F.count(F.lit(1)) - 1))
        .cast("bigint")
        .alias("ct")
    )

    def row(name: str, top: DataFrame, cand_count: DataFrame) -> DataFrame:
        hits = top.join(truth, ["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).cast("bigint").alias("hits")
        )
        return hits.crossJoin(cand_count).select(
            F.lit(name).alias("method"),
            F.lit(_ANN_NQ).cast("bigint").alias("n_queries"),
            F.lit(K).cast("int").alias("k"),
            F.col("hits"),
            F.round(
                F.col("hits").cast("double") / F.lit(float(K * _ANN_NQ))
                + F.lit(1e-9),
                6,
            ).alias("recall_at_k"),
            F.col("ct").alias("cand_total"),
            F.round(
                F.col("ct").cast("double") / F.lit(float(_ANN_NQ))
                + F.lit(1e-9),
                6,
            ).alias("avg_candidates"),
        )

    def pairs_count(cand_pairs: DataFrame) -> DataFrame:
        return cand_pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("ct")
        )

    return (
        row("ivf_pq", top3, pairs_count(cand3))
        .unionAll(row("ivf_sq8", top2, pairs_count(cand2)))
        .unionAll(row("jl_rp", top4, cand4_count))
        .unionAll(row("lsh_multi", top1, pairs_count(cand1)))
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_topk
# ---------------------------------------------------------------------------

#: Matryoshka prefix dimensionality (of the fixture's 64).
_MRL_DIM = 16
_MRL_K = 10


def _mrl_oracle() -> str:
    from whisper_pandas_spark.functions.duck import duck_cos

    pd, k = _MRL_DIM, _MRL_K
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id < 5
), c AS (
  SELECT vec_id, embedding AS cv FROM embeddings
), pranked AS (
  SELECT query_id, vec_id, cos_sim, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM (
    SELECT q.query_id, c.vec_id,
      round({duck_cos("qv[1:" + str(pd) + "]", "cv[1:" + str(pd) + "]")},
            6) AS cos_sim
    FROM c CROSS JOIN q WHERE c.vec_id != q.query_id)
), franked AS (
  SELECT query_id, vec_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM (
    SELECT q.query_id, c.vec_id,
      round({duck_cos("qv", "cv")}, 6) AS cos_sim
    FROM c CROSS JOIN q WHERE c.vec_id != q.query_id)
), ftop AS (
  SELECT query_id, vec_id FROM franked WHERE rnk <= {k}
)
SELECT p.query_id, p.vec_id, p.cos_sim, p.rnk,
  CAST(f.vec_id IS NOT NULL AS INT) AS in_full
FROM pranked p LEFT JOIN ftop f
  ON p.query_id = f.query_id AND p.vec_id = f.vec_id
WHERE p.rnk <= {k}
ORDER BY p.query_id, p.rnk
"""


@register("emb_matryoshka_topk", oracle=_mrl_oracle())
def emb_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y178: Matryoshka prefix-dimension retrieval (Kusupati et al.
    2022) — MRL embeddings let the first M dims serve as a cheaper
    standalone representation: top-{_MRL_K} over the {_MRL_DIM}-dim
    PREFIX (a zero-cost F.slice — no projection matrix, unlike the
    JL/PCA rows) with the full-dim truth ranking computed in the SAME
    plan and per-row membership (`in_full`) riding the hash-checked
    output — the recall audit IS the result, the emb_ann_recall_audit
    doctrine. On the near-random fixture the prefix ranking degrades
    exactly as MRL predicts for non-MRL-trained vectors: the entry is
    the serving-path plumbing (slice -> same cosine_topk machinery ->
    membership join), which is what transfers to real MRL checkpoints.
    Scale: prefix scoring reads 4x less data per pair; both rankings
    broadcast the 5-query side, corpus stays map-side."""

    emb = table(spark, sf_dir, "embeddings")
    pref = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    q_pref = pref.filter(F.col("vec_id") < 5)
    q_full = emb.filter(F.col("vec_id") < 5)
    ptop = cosine_topk(pref, q_pref, _MRL_K)
    ftop = cosine_topk(emb, q_full, _MRL_K).select(
        F.col("query_id").alias("fq"), F.col("vec_id").alias("fv")
    )
    return (
        ptop.join(
            ftop,
            (F.col("query_id") == F.col("fq"))
            & (F.col("vec_id") == F.col("fv")),
            "left",
        )
        .select(
            "query_id",
            "vec_id",
            "cos_sim",
            "rnk",
            F.col("fv").isNotNull().cast("int").alias("in_full"),
        )
        .orderBy("query_id", "rnk")
    )
