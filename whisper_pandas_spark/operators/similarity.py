"""Similarity search over embedding columns (SURVEY.md §2.10 X3).

`embeddings` table: (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT).

Two paths:

- **brute-force top-k** (`cosine_topk`): broadcast the (small) query set,
  compute cosine with higher-order functions (`zip_with` + `aggregate` —
  JVM-side, no Python round trip), rank per query with a window, keep k.
  The crossJoin is broadcast-nested-loop with the QUERY side broadcast:
  the big corpus never shuffles, cost is O(|corpus| × |queries| × dim)
  map-side work. This is the exact baseline every ANN variant is measured
  against.

- **hyperplane-LSH bucketed** (`cosine_topk_lsh`): sign-of-dot-product
  against `n_planes` deterministic pseudo-random hyperplanes → one integer
  bucket per vector; candidates = corpus rows whose bucket matches the
  query's bucket in ≥ 1 of the band projections; exact cosine re-rank on
  candidates only. At 100 TB the bucket join is a hash join on an int key
  (shuffle rows are (bucket, vec_id, embedding)); recall is tunable via
  bands × planes. Hyperplanes are generated from the same md5 hash family
  as the dedup ops, so the whole pipeline stays deterministic and
  oracle-able.

Norms: cosine(a,b) = dot(a,b) / (||a||·||b||). Zero vectors yield NULL
(division by zero → NULL on both Spark and DuckDB), which the rank filter
then drops — matching `list_cosine_similarity`'s NaN→exclusion behavior is
handled by filtering non-finite similarities on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.functions.hashing import py_md5_int


def dot(a: Column, b: Column) -> Column:
    # Cast to double BEFORE multiplying and fold left in array order: this
    # makes the result bit-identical to the DuckDB oracle's
    # list_reduce(list_prepend(0.0, ...)) left fold over the same elements.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns (NULL if either is 0).

    try_divide, not `/`: under Spark 4's default ANSI mode a zero vector
    would otherwise raise DIVIDE_BY_ZERO mid-job instead of yielding NULL.

    PERF: in pairwise pipelines prefer :func:`cosine_with_norms` — this
    form re-folds BOTH norms for every pair, and higher-order folds are
    interpreted; precomputing one norm column per vector is bit-identical
    and ~3× cheaper (measured on sim_near_dup_pairs at sf0.1).
    """
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms — same fold, same values, one norm
    evaluation per VECTOR instead of per PAIR."""
    return F.try_divide(dot(a, b), na * nb)


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-stage per-query top-k over (query_id, vec_id, cos_sim) rows.

    A single ``Window.partitionBy("query_id")`` is a scale-killer: with Q
    query keys, EVERY scored row shuffles into Q partitions, each doing a
    full sort — a Q-partition straggler at 1 B corpus rows. Instead:

    1. local top-k per (query_id, input partition): the window key
       includes ``spark_partition_id()``, so the first shuffle spreads
       over Q × #partitions keys (balanced at any cluster width) and the
       sort per key is bounded by the partition's rows;
    2. global top-k over the survivors — at most Q × #partitions × k
       rows, a trivial second shuffle.

    Stage 1 cannot lose a global top-k row: within its own input
    partition a row's local rank is ≤ its global rank (same total order
    restricted to a subset), so every global top-k row survives the
    local filter. Tie-break (cos_sim desc, vec_id asc) is a total order
    per query, making both stages deterministic.
    """
    return two_stage_topk(scored, k, score_col="cos_sim")


def two_stage_topk(
    scored: DataFrame,
    k: int,
    score_col: str = "cos_sim",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The reduction behind :func:`topk_per_query`, generalized over the
    score column (the int8 family ranks by rescaled integer dots and
    carries the raw ``dot_q`` through). Output columns:
    (query_id, vec_id, *extra_cols, score_col, rnk)."""
    order = [F.col(score_col).desc(), F.col("vec_id")]
    local_w = Window.partitionBy("query_id", "pid").orderBy(*order)
    pruned = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrnk", F.row_number().over(local_w))
        .filter(F.col("lrnk") <= k)
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", *extra_cols, score_col, "rnk")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine per query vector.

    Result: (query_id, vec_id, cos_sim, rnk) with deterministic tie-break
    (cos desc, vec_id asc). Query side is broadcast — the corpus scan is
    one pass with map-side scoring; ranking is the two-stage
    :func:`topk_per_query` reduction (no per-query shuffle hotspot).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec"))
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
    scored = (
        c.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
    )
    return topk_per_query(scored, k)


def _hyperplane(seed: int, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes.

    Python-side tiny constant (dim floats) — baked into the plan as a
    literal array, identical on the DuckDB oracle side (generated by the
    same function).
    """
    # map 8 hex chars to [-1, 1)
    return [
        py_md5_int(f"plane:{seed}:{plane}:{d}", 8) / float(1 << 31) - 1.0
        for d in range(dim)
    ]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Integer bucket: bit p = sign(dot(vec, plane_p))."""
    out = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        bit = F.when(dot(vec, lit_plane) > 0, F.lit(2 ** p)).otherwise(F.lit(0))
        out = out + bit.cast("bigint")
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroids by cosine.

    Centroids are broadcast (K is small by definition); the corpus scans
    once. nprobe=1 (the IVF build step over the full corpus) reduces via
    groupBy + max_by — partial aggregation keeps the K-way scoring
    map-side. nprobe>1 (the query-side multi-probe, small input) ranks
    with a window. Deterministic ties broken by centroid id. Output:
    (vec_id, vec, cell, probe_rank).
    """
    # Norms precomputed per vector/centroid (one fold each) instead of per
    # (vector, centroid) pair — bit-identical cosines, K× less fold work.
    cent = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("centroid"),
            norm(F.col(vec_col)).alias("cnrm"),
        )
    )
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("vnrm"),
    )
    scored = v.crossJoin(cent).select(
        "vec_id",
        "vec",
        "cid",
        cosine_with_norms(
            F.col("vec"), F.col("centroid"), F.col("vnrm"), F.col("cnrm")
        ).alias("ccos"),
    )
    if nprobe == 1:
        # Build side (one cell per vector): a groupBy argmax instead of a
        # window — max_by gets map-side PARTIAL aggregation, so the
        # shuffle carries one pre-reduced row per vector instead of K
        # scored rows per vector into a sort. Tie-break matches the
        # window path: max over (ccos, -cid) == (ccos desc, cid asc).
        best = scored.groupBy("vec_id").agg(
            F.max_by(
                F.struct(F.col("vec"), F.col("cid")),
                F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid")),
            ).alias("best")
        )
        return best.select(
            "vec_id",
            F.col("best.vec").alias("vec"),
            F.col("best.cid").alias("cell"),
            F.lit(1).alias("probe_rank"),
        )
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("cid"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("vec_id", "vec", F.col("cid").alias("cell"), "probe_rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    centroids: DataFrame,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into centroid cells
    (one pass, nprobe=1), probe the query's `nprobe` nearest cells, exact
    cosine re-rank inside the probed cells only.

    The centroid set is supplied by the caller (real deployments train
    k-means offline and ship the codebook); candidate work per query is
    Σ|probed cells| ≈ nprobe·N/K instead of N. The cell join is a hash
    equi-join on an int key — the same shuffle shape as the LSH variant,
    but with data-adaptive cells instead of random hyperplanes.
    """
    cells = ivf_assign(corpus, centroids, 1, id_col, vec_col).select(
        "vec_id", F.col("vec").alias("cvec"), "cell"
    )
    probes = F.broadcast(
        ivf_assign(queries, centroids, nprobe, id_col, vec_col).select(
            F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec"), "cell"
        )
    )
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
    # No dedup needed: every corpus vector lives in exactly ONE cell
    # (nprobe=1 on the build side), so a (query, corpus) pair meets at
    # most once — a distinct here would only add a shuffle.
    scored = (
        cells.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
    )
    return topk_per_query(scored, k)


def multi_table_buckets(
    df: DataFrame,
    idc: str,
    vecc: str,
    ida: str,
    veca: str,
    table_planes: list[tuple[int, list[list[float]]]],
) -> DataFrame:
    """All K table buckets per vector in ONE Arrow pass:
    (ida, veca, t, bucket) — K rows per input vector.

    Why mapInPandas and not `lsh_bucket` expressions: the fold dots are
    CodegenFallback (interpreted per element), and K·b·dim of them per
    vector measured ~11 s for 2 000 vectors at the 16×3 geometry — the
    same interpreter wall the MinHash signatures hit. The numpy version
    accumulates dim-SEQUENTIALLY across row-vectorized columns, i.e. the
    exact left fold (0.0 + v₀·p₀ + …) in the same order with the same
    double casts, so buckets are bit-identical to the expression path
    and the DuckDB oracle (asserted in tests)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    n_planes = len(table_planes[0][1])
    planes_np = [
        (t, np.array(planes, dtype=np.float64))  # (b, dim)
        for t, planes in table_planes
    ]
    pows = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf["_vec"]), dtype=np.float64)  # (n, dim)
            ids = pdf["_id"].to_numpy()
            frames = []
            for t, P in planes_np:
                # exact left fold: sequential over dims, vector over rows
                acc = np.zeros((len(pdf), n_planes))
                for i in range(mat.shape[1]):
                    acc = acc + mat[:, i : i + 1] * P[None, :, i]
                bucket = ((acc > 0) @ pows).astype(np.int64)
                frames.append(
                    pd.DataFrame(
                        {
                            ida: ids,
                            veca: pdf["_vec"].to_numpy(),
                            "t": np.full(len(pdf), t, dtype=np.int32),
                            "bucket": bucket,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    src = df.select(F.col(idc).alias("_id"), F.col(vecc).alias("_vec"))
    vec_type = df.schema[vecc].dataType.simpleString()
    return src.mapInPandas(
        compute, f"{ida} long, {veca} {vec_type}, t int, bucket long"
    )


def cosine_topk_lsh_multi(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_tables: int = 4,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k with MULTI-TABLE hyperplane LSH — the 1 B-vector recall
    fix single-table LSH needs (SCALE.md: at realistic plane counts one
    table's bucket-match probability collapses for mid-similarity pairs;
    K independent tables raise recall to 1-(1-p^b)^K).

    Shape: ONE pass computes all K buckets per vector (K·b literal-plane
    dots, map-side), explodes to K (table, bucket) rows, and a single
    hash equi-join on the composite (table, bucket) key IS the union of
    K bucketed joins — same shuffle volume, one exchange instead of K.
    Candidates that collide in several tables are de-duplicated on
    (query_id, vec_id) before the exact cosine re-rank, so each pair is
    scored once. No cross join anywhere; corpus-side work after the join
    is Σ|bucket| over probed buckets, not |corpus|.
    """
    table_planes = [
        (t, [_hyperplane(t, p, dim) for p in range(n_planes)])
        for t in range(n_tables)
    ]
    c = multi_table_buckets(corpus, id_col, vec_col, "vec_id", "cvec", table_planes)
    q = F.broadcast(
        multi_table_buckets(queries, id_col, vec_col, "query_id", "qvec", table_planes)
    )
    cand = (
        c.join(q, ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
    scored = cand.select("query_id", "vec_id", sim.alias("cos_sim"))
    return topk_per_query(scored, k)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: hyperplane-LSH bucket match then exact re-rank.

    Single-band variant (candidates must share the full bucket). Recall <
    1.0 by design; the scale win is that the corpus-side work after the
    bucket equi-join is |bucket| not |corpus|.
    """
    planes = [_hyperplane(0, p, dim) for p in range(n_planes)]
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            lsh_bucket(F.col(vec_col), planes).alias("bucket"),
        )
    )
    sim = F.round(cosine(F.col("qvec"), F.col("cvec")), 6)
    scored = (
        c.join(q, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
    )
    return topk_per_query(scored, k)
