"""Embedding compression: int8 scalar quantization + quantized ANN.

The storage/bandwidth lever for 100 TB-scale vector corpora: a 64-dim
float32 embedding is 256 B; symmetric int8 quantization cuts it to
64 B + one float scale, and integer dot products are exact (no float
summation-order hazard) — candidate scoring becomes portable integer
arithmetic with one final per-pair rescale.

Reference parity: the reference engine has no vector surface at all
(`whisper_pandas.py` is a time-series decoder); this family is part of
the engine's own LLM-pipeline bar (SURVEY.md §2.10 X3 extension).

Parity design (see the oracle strings in queries_similarity.py):

- scale = max(|v_i|) is a comparison-only fold — no float arithmetic,
  bit-identical on any engine and any fold order;
- q_i = floor(v_i / scale * 127 + 0.5): one division, one multiply,
  one add, floored — identical IEEE doubles on Spark and DuckDB
  (floor(x+0.5) is used instead of round() because round's half-up vs
  half-even behavior differs across engines);
- integer sums/dots over q are exact BIGINT math;
- the only float that leaves the operator is quantized to micro units
  (floor(x * 1e6)) before it reaches a result column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

Q_LEVELS = 127.0  # symmetric int8 range [-127, 127]


def _vabs_max(v: Column) -> Column:
    """max(|v_i|) — comparison-only fold, order-independent, exact."""
    return F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )


def _quantize(v: Column, scale: Column) -> Column:
    """Element-wise int8 codes; all-zero vectors map to all-zero codes."""
    return F.transform(
        v,
        lambda x: F.when(scale == F.lit(0.0), F.lit(0).cast("long")).otherwise(
            F.floor(x.cast("double") / scale * F.lit(Q_LEVELS) + F.lit(0.5)).cast(
                "long"
            )
        ),
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with reconstruction audit.

    Returns (id, scale_micro, sum_q, l1_q, err_micro_max):

    - scale_micro: floor(max|v| * 1e6) — the dequantization scale;
    - sum_q / l1_q: exact integer code sums (membership check for the
      whole code vector without emitting 64 columns);
    - err_micro_max: floor(max reconstruction error * 1e6) — the audit
      that the codes actually dequantize back within int8 tolerance.

    Scan-shaped: one projection, zero shuffles; scales linearly.
    """
    v = F.col(vec_col)
    scale = _vabs_max(v)
    q = _quantize(v, scale)
    # Reconstruction error per element: |v_i - q_i * scale / 127|.
    err = F.zip_with(
        v,
        q,
        lambda x, c: F.abs(
            x.cast("double") - c.cast("double") * scale / F.lit(Q_LEVELS)
        ),
    )
    return df.select(
        F.col(id_col),
        F.floor(scale * F.lit(1e6)).cast("long").alias("scale_micro"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("l1_q"),
        F.floor(
            F.aggregate(err, F.lit(0.0), lambda a, x: F.greatest(a, x))
            * F.lit(1e6)
        )
        .cast("long")
        .alias("err_micro_max"),
    )


def int8_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + SQ8: the production billion-scale ANN shape — coarse
    quantization (IVF cells) bounds WHICH pairs are scored, scalar int8
    quantization bounds WHAT each comparison costs.

    Corpus vectors land in their 1 nearest cell (``ivf_assign``,
    broadcast centroids, map-side argmax); queries probe their ``nprobe``
    nearest cells; candidates = cell-equality join (each (query, vec)
    pair at most once, since a corpus vector lives in exactly one cell).
    Candidate scoring is the exact BIGINT code dot rescaled by the two
    stored float scales — identical arithmetic to :func:`int8_topk`, but
    over Σ|probed cells| candidates instead of |corpus|.

    Result: (query_id, vec_id, dot_q, score, rnk), ties (score desc,
    vec_id asc), ranked by the same two-stage local/global reduction.
    """
    from whisper_pandas_spark.operators.similarity import ivf_assign, two_stage_topk

    def coded(assigned: DataFrame, ida: str, prefix: str) -> DataFrame:
        v = F.col("vec")
        scale = _vabs_max(v)
        return assigned.select(
            F.col("vec_id").alias(ida),
            F.col("cell"),
            _quantize(v, scale).alias(f"{prefix}_q"),
            scale.alias(f"{prefix}_scale"),
        )

    cells = coded(ivf_assign(corpus, centroids, 1, id_col, vec_col), "doc_id", "doc")
    probes = F.broadcast(
        coded(ivf_assign(queries, centroids, nprobe, id_col, vec_col), "qry_id", "qry")
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("qry_q"), F.col("doc_q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    score = F.round(
        F.col("dot_q").cast("double")
        * F.col("qry_scale")
        * F.col("doc_scale")
        / F.lit(Q_LEVELS * Q_LEVELS),
        6,
    )
    scored = (
        cells.join(probes, "cell")
        .filter(F.col("doc_id") != F.col("qry_id"))
        .withColumn("dot_q", dot_q)
        .select(
            F.col("qry_id").alias("query_id"),
            F.col("doc_id").alias("vec_id"),
            F.col("dot_q"),
            score.alias("score"),
        )
    )
    return two_stage_topk(scored, k, score_col="score", extra_cols=("dot_q",))


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-arithmetic quantized ANN: top-k by int8 dot product.

    Both sides are quantized once; the candidate score is the INTEGER
    code dot product rescaled by the two stored scales —
    ``score = (q_a · q_b) * scale_a * scale_b / 127²`` — an unbiased
    estimate of ⟨a, b⟩ whose heavy inner loop is pure BIGINT math (the
    SIMD-friendly layout every production int8 ANN uses). The per-pair
    work after the integer dot is two multiplies and a divide.

    Ranking is the same two-stage scale-safe reduction as
    :func:`whisper_pandas_spark.operators.similarity.topk_per_query`
    (local top-k per (query, input partition), then global top-k over
    the ≤ Q × partitions × k survivors — no per-query shuffle hotspot);
    ties break (score desc, vec_id). Result:
    (query_id, vec_id, dot_q, score, rnk).
    """
    from whisper_pandas_spark.operators.similarity import two_stage_topk

    def coded(df: DataFrame, idc: str, vecc: str, prefix: str) -> DataFrame:
        v = F.col(vecc)
        scale = _vabs_max(v)
        return df.select(
            F.col(idc).alias(f"{prefix}_id"),
            _quantize(v, scale).alias(f"{prefix}_q"),
            scale.alias(f"{prefix}_scale"),
        )

    q = F.broadcast(coded(queries, id_col, vec_col, "qry"))
    c = coded(corpus, id_col, vec_col, "doc")
    dot_q = F.aggregate(
        F.zip_with(F.col("qry_q"), F.col("doc_q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    score = F.round(
        F.col("dot_q").cast("double")
        * F.col("qry_scale")
        * F.col("doc_scale")
        / F.lit(Q_LEVELS * Q_LEVELS),
        6,
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("doc_id") != F.col("qry_id"))
        .withColumn("dot_q", dot_q)
        .select(
            F.col("qry_id").alias("query_id"),
            F.col("doc_id").alias("vec_id"),
            F.col("dot_q"),
            score.alias("score"),
        )
    )
    return two_stage_topk(scored, k, score_col="score", extra_cols=("dot_q",))


# -- product quantization (PQ) ---------------------------------------------
#
# The 1 B-vector compression standard (Jégou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split each vector into M
# subspaces, k-means each subspace independently, store M small codes per
# vector (dim 64, M=4, k=16 -> 4 bytes/vector vs 256), and answer queries
# with asymmetric distance computation (ADC): per query, a (M x k) lookup
# table of exact subspace distances, then each candidate costs M table
# lookups + a sum instead of a D-dim float fold. Composes with the IVF
# cell join (int8_topk_ivf's shape) for IVF-PQ at full scale.
#
# Same determinism contract as the rest of the module: left-fold L2
# distances (bit-identical to functions/duck.py:duck_l2sq), exact-decimal
# subspace means, ties by centroid id — so the whole train/encode/query
# pipeline is SQL-oracle-able.


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance — left fold in element order, double casts
    (the distance twin of similarity.py:dot)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subvectors(
    df: DataFrame, m: int, d_sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, sub, svec) — every vector split into its m subspaces.
    One narrow projection; the explode multiplies rows m times but each
    carries only a d/m slice."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).alias("__v"),
    ).select(
        "vec_id",
        "sub",
        F.slice(F.col("__v"), F.col("sub") * d_sub + 1, d_sub)
        .cast("array<double>")
        .alias("svec"),
    )


def _pq_assign(subv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, sub, svec, code): nearest centroid per subspace by
    squared L2, ties by centroid id. Codebooks broadcast (m*k rows);
    the argmin is a map-side partial max_by — no sort, one exchange."""
    cb = F.broadcast(
        codebooks.select("sub", F.col("cid").alias("code"), "centroid")
    )
    scored = subv.join(cb, "sub").select(
        "vec_id",
        "sub",
        "svec",
        "code",
        l2sq(F.col("svec"), F.col("centroid")).alias("__d"),
    )
    best = scored.groupBy("vec_id", "sub").agg(
        F.min_by(
            F.struct("svec", "code"), F.struct(F.col("__d"), F.col("code"))
        ).alias("b")
    )
    return best.select(
        "vec_id", "sub", F.col("b.svec").alias("svec"), F.col("b.code").alias("code")
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int,
    k: int,
    iters: int = 2,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the M per-subspace L2 codebooks JOINTLY (one loop, every
    subspace a group key — not M sequential jobs): returns
    (sub, cid, centroid ARRAY<DOUBLE>), cid = 0..k-1 per subspace in
    init-hash order.

    Init: per subspace, the k vectors with smallest
    md5(seed:sub:vec_id) seed that subspace's codebook (deterministic,
    engine-portable). Each Lloyd iteration: broadcast codebooks join +
    partial-agg argmin, then exact-decimal per-(sub, cell, pos) means —
    bit-identical under any partitioning; every iteration ends in a
    stage barrier that truncates lineage (the kmeans_cosine contract).
    Empty cells drop out, mirroring the cosine trainer.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if iters < 0:
        raise ValueError("iters must be >= 0")
    d_sub = dim // m
    from pyspark.sql.window import Window

    subv = _subvectors(vectors, m, d_sub, id_col, vec_col)
    w = Window.partitionBy("sub").orderBy("h")
    cent = stage_materialize(
        subv.withColumn(
            "h",
            F.md5(
                F.concat_ws(
                    ":", F.lit(str(seed)), F.col("sub"), F.col("vec_id")
                )
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "sub",
            (F.col("rn") - 1).cast("bigint").alias("cid"),
            F.col("svec").alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = _pq_assign(subv, cent)
        means = (
            assigned.select(
                "sub", F.col("code").alias("cell"),
                F.posexplode("svec").alias("pos", "val"),
            )
            .groupBy("sub", "cell", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("mval")
            )
        )
        cent = stage_materialize(
            means.groupBy("sub", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                    lambda s: s.mval,
                ).alias("centroid")
            )
            .select("sub", F.col("cell").alias("cid"), "centroid")
        )
    return cent


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, code) — every vector's PQ code in long form (the
    join-ready shape ADC consumes; pivot to an array for storage)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subv = _subvectors(vectors, m, dim // m, id_col, vec_col)
    return _pq_assign(subv, codebooks).select("vec_id", "sub", "code")


def _adc_dtable(
    queries: DataFrame, codebooks: DataFrame, dim: int, m: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Broadcast per-query (m x k) ADC lookup table: EXACT squared-L2
    from each query subvector to every codebook centroid, pre-cast to
    DECIMAL(38,12) so downstream sums are partition-order-independent."""
    qsub = _subvectors(queries, m, dim // m, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("svec").alias("qvec")
    )
    cb = codebooks.select("sub", F.col("cid").alias("code"), "centroid")
    return F.broadcast(
        qsub.join(cb, "sub").select(
            "query_id",
            "sub",
            "code",
            l2sq(F.col("qvec"), F.col("centroid"))
            .cast("decimal(38,12)")
            .alias("__d"),
        )
    )


def _adc_rank(scored: DataFrame, k_top: int) -> DataFrame:
    """Shared ADC ranking tail: ascending distance, ties by vec_id,
    output distance rounded to 6 (ordering uses the full value)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_top)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("adc_dist"), 6).alias("adc_dist"),
            "rnk",
        )
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    k_top: int,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, adc_dist, rnk) — smallest
    approximate squared-L2 first.

    Per query, the EXACT distance from its subvector to every codebook
    centroid builds the (m x k) lookup table (queries and codebooks both
    broadcast-sized); candidates then cost one (sub, code) equi-join
    against the table and a DECIMAL(38,12) sum of m looked-up doubles —
    partition-order-independent, no D-dim fold per pair. Self-matches
    excluded; ties by vec_id. At full scale restrict ``codes`` to IVF
    probe cells first (IVF-PQ) — the table side never changes.
    """
    dtable = _adc_dtable(queries, codebooks, dim, m, id_col, vec_col)
    scored = (
        codes.join(dtable, ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("__d").cast("double").alias("adc_dist"))
    )
    return _adc_rank(scored, k_top)


def pq_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    k_top: int,
    dim: int,
    m: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the full 1 B-vector serving shape — IVF cells bound WHICH
    codes score (similarity.py:ivf_assign, same cell join as
    int8_topk_ivf), PQ/ADC bounds what each candidate costs (pq_topk's
    lookup-table sum). (query_id, vec_id, adc_dist, rnk), ties by
    vec_id, self excluded.

    The corpus appears ONLY as (vec_id, cell, sub, code) rows — cell
    assignment and encoding each scan it once (both broadcast-join
    shapes); at serving time those are precomputed tables and a query
    touches nprobe cells' codes, never the vectors.
    """
    from whisper_pandas_spark.operators.similarity import ivf_assign

    cells = ivf_assign(
        vectors, centroids, nprobe=1, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cell")
    codes = pq_encode(vectors, codebooks, dim, m, id_col, vec_col).join(
        cells, "vec_id"
    )
    probes = ivf_assign(
        queries, centroids, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    ).select(F.col("vec_id").alias("query_id"), "cell")
    dtable = _adc_dtable(queries, codebooks, dim, m, id_col, vec_col)
    cand = codes.join(F.broadcast(probes), "cell")
    scored = (
        cand.join(dtable, ["query_id", "sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("__d").cast("double").alias("adc_dist"))
    )
    return _adc_rank(scored, k_top)
