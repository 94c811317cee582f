"""Deterministic distributed k-means for IVF codebook training (X3).

Makes the IVF ANN path (:func:`~whisper_pandas_spark.operators.similarity.
cosine_topk_ivf`) self-contained: real deployments train a codebook
offline, and this is that trainer, expressed Spark-first so it runs on the
full corpus.

Design constraints and how they map to Spark:

- **Initialization** must be deterministic AND oracle-able, so instead of
  k-means||'s random oversampling we take the k vectors with the smallest
  ``md5(seed || vec_id)`` — a deterministic pseudo-random sample (the md5
  order is uncorrelated with insertion order, which is what the random
  init buys you) that any SQL engine reproduces exactly.
- **Assignment** step is :func:`ivf_assign` with nprobe=1 — broadcast
  centroids, map-side scoring, groupBy + max_by partial aggregation: one
  narrow shuffle of pre-reduced rows per iteration.
- **Update** step is the classic posexplode → groupBy(cell, pos) mean.
  The dim-way explode gets map-side partial aggregation on (cell, pos) —
  K·dim running sums per input partition, NOT |corpus|·dim shuffled rows.
- **Determinism of the mean**: double summation is order-dependent under
  Spark's partial aggregation, so sums run in DECIMAL(38,12) (exact,
  associative — bit-identical under any partitioning) and the final
  ``sum_dec::double / n`` division is performed on both engines
  identically. Iterations therefore converge to the same bits everywhere.
- Empty cells simply drop (k shrinks) — consistent on both engines.

A fixed iteration count (no convergence test) keeps the computation a
static DAG: at 100 TB each iteration is one scan + two narrow shuffles,
and the caller picks the compute budget explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.operators.similarity import ivf_assign
from whisper_pandas_spark.stage import stage_materialize


def kmeans_cosine(
    vectors: DataFrame,
    k: int,
    iters: int = 2,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: bool = True,
) -> DataFrame:
    """Train k cosine-space centroids; returns (cid BIGINT, embedding
    ARRAY<DOUBLE>) with cid = 0..k-1 assigned in init-hash order.

    ``iters`` Lloyd iterations over the full corpus: assign each vector to
    its nearest centroid by cosine (deterministic ties by centroid id),
    recompute each centroid as the exact-decimal element-wise mean of its
    members. Cosine is scale-invariant, so the mean is used un-normalized
    (spherical k-means' normalization step only rescales — it cannot
    change any subsequent assignment).

    ``checkpoint=True`` (the DEFAULT — it is the production shape for
    iterative training) materializes the (tiny, k-row) centroid frame
    after every iteration with an eager stage barrier, truncating
    lineage so the downstream plan contains ONE iteration's operators
    regardless of ``iters``. ``checkpoint=False`` compounds the
    iterations into a single plan whose exchange count grows linearly
    and whose corpus scan repeats per iteration — kept only as the
    labelled single-tree baseline proving bit-parity. Results are
    bit-identical either way (asserted in tests): the exact-decimal
    means make every iteration's centroids independent of partitioning,
    and checkpointing only changes WHERE the bits come from, not the
    bits.
    """
    src = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    # deterministic pseudo-random init: k smallest md5(seed:vec_id)
    init = (
        src.withColumn(
            "h", F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("vec_id")))
        )
        .orderBy("h")
        .limit(k)
    )
    # Global (unpartitioned) window — Spark logs a single-partition warning,
    # but the frame is the k-row limit() above, not the corpus: the "all
    # data" it moves is <= k centroids, constant at any corpus scale.
    w = Window.orderBy("h")
    cent = init.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("cid"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )

    for _ in range(iters):
        # ivf_assign expects one id/vec naming on both sides; the centroid
        # frame masquerades its cid as the id column.
        assigned = ivf_assign(
            src.select("vec_id", "embedding"),
            cent.select(F.col("cid").alias("vec_id"), "embedding"),
            nprobe=1,
        ).select("vec_id", "vec", "cell")
        exploded = assigned.select(
            "cell", F.posexplode("vec").alias("pos", "val")
        )
        means = exploded.groupBy("cell", "pos").agg(
            (
                F.sum(F.col("val").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mval")
        )
        cent = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s.mval,
            ).alias("embedding")
        ).select(F.col("cell").alias("cid"), "embedding")
        if checkpoint:
            cent = stage_materialize(cent)

    return cent


# ---------------------------------------------------------------------------
# int8-code k-means (exact integer arithmetic)
# ---------------------------------------------------------------------------
# The auditable sibling of kmeans_cosine: clustering the int8 CODES
# (operators/embeddings.py quantization) makes every distance an exact
# BIGINT sum of squares and every centroid update an exact floored
# integer mean — assignments and centroids are bit-reproducible across
# engines/partitionings/retries, so the DuckDB oracle can replay the
# FULL iteration history value-exactly (emb_kmeans_int8).
#
# Semantics note: per-vector symmetric quantization divides each vector
# by its own max|v|, so code-space L2 sees DIRECTION, not magnitude —
# this is spherical (cosine-like) k-means, which is what embedding
# pipelines want. Callers needing magnitude-aware clustering should
# quantize against a global scale (tests/test_round12b.py pins this).
#
# Scale shape (same as kmeans_cosine): ASSIGN is map-side (centroid
# matrix in the Arrow closure, vectorized numpy int64 distances, zero
# shuffle — see _assign for why not zip_with expressions); UPDATE is
# one (cluster, dim) partial-agg exchange + a k x dim bounded collect
# per iteration (the BPE-merge-table collect pattern). Empty clusters
# keep their previous centroid.

def int8_codes(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, q) — the raw int8 code vectors (array<bigint>), same
    VALUES as operators/embeddings.quantize_int8.

    One Arrow pass (round 15, guide §4.2): the expression form
    ``_quantize(v, _vabs_max(v))`` inlines the scale fold INSIDE the
    per-element transform lambda, and higher-order lambdas are
    CodegenFallback — the max|v| aggregate re-interprets per ELEMENT,
    O(dim^2) interpreted steps per row (measured 1.1-1.3 s for 2 500
    dim-64 rows at sf0.1, the dominant semdedup stage). numpy runs the
    identical IEEE chain — cast float64, s = max(|x|, initial 0.0),
    floor(x / s * 127.0 + 0.5) — element-for-element bit-equal
    (pytest-pinned against the expression form), all-zero vectors map
    to all-zero codes, and a NULL vector maps to a NULL code.
    """
    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.operators.embeddings import Q_LEVELS

    id_ddl = f"{id_col} {df.schema[id_col].dataType.simpleString()}"

    def codes_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = list(pdf["_v"])
            lens = {-1 if v is None else len(v) for v in vecs}
            if len(lens) == 1 and min(lens) > 0:
                x = np.array(vecs, dtype=np.float64)  # n x dim
                s = np.abs(x).max(axis=1, initial=0.0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    q = np.floor(
                        x / s[:, None] * Q_LEVELS + 0.5
                    )
                q[s == 0.0] = 0.0
                out = q.astype(np.int64).tolist()
            else:  # ragged/empty/NULL rows: per-row, same arithmetic
                out = []
                for vec in vecs:
                    if vec is None:
                        out.append(None)
                        continue
                    x = np.asarray(vec, dtype=np.float64)
                    s = np.abs(x).max(initial=0.0)
                    if s == 0.0:
                        q = np.zeros(len(x), dtype=np.int64)
                    else:
                        q = np.floor(x / s * Q_LEVELS + 0.5).astype(np.int64)
                    out.append(q.tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "q": out})

    return df.select(F.col(id_col), F.col(vec_col).alias("_v")).mapInPandas(
        codes_batches, f"{id_ddl}, q array<bigint>"
    )


def _assign(codes: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(id, cluster, dist) — argmin over broadcast centroids, ties to
    the lowest cluster id.

    Arrow (mapInPandas) with vectorized exact-int64 numpy distances,
    NOT a zip_with/aggregate expression: Spark's higher-order array
    lambdas are CodegenFallback (interpreted per element — the MinHash
    lesson, operators/dedup.py:minhash_signature_arrow), and the k x
    dim x rows interpreter cost measured SUPER-linear at the sf1
    stress. numpy int64 subtraction/square/sum is exact for int8-range
    codes, so bit-parity with the SQL replay is preserved; np.argmin
    returns the FIRST minimum = lowest cluster id, the documented tie
    rule. Map-side only — the centroid matrix rides the closure, zero
    shuffle, and the per-batch cost is one (batch x k x dim) einsum-
    free broadcasted op."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.int64)  # k x dim
    # PySpark 4 assigns Arrow batch columns to the declared schema BY
    # NAME — the output dict must use the caller's actual id column
    # (round-13 ADVICE fix: a hardcoded name raises KeyError for any
    # id_col other than that literal)
    id_name = codes.columns[0]

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["q"]), dtype=np.int64)  # n x dim
            d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            cl = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_name: pdf.iloc[:, 0],
                    "q": pdf["q"],
                    "cluster": cl.astype("int32"),
                    "dist": d[np.arange(len(cl)), cl],
                }
            )

    out = codes.mapInPandas(
        assign_batches,
        f"{id_name} long, q array<bigint>, cluster int, dist long",
    )
    return out


def _update_sums(codes: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Per-task partial Lloyd-update sums: (cluster, s array<long>, n).

    One Arrow pass over ``q`` ALONE (the update step needs no ids or
    distances): each task assigns its batches against the broadcast
    centroid matrix (same exact-int64 argmin/tie rule as _assign) and
    accumulates per-cluster component sums + counts across ALL its
    batches, emitting at most k rows per task. The caller folds the
    bounded k x tasks rows on the driver — int64 sums are associative,
    so the totals are bit-identical to the former rows x dim
    posexplode + (cluster, dim) exchange they replace."""
    import numpy as np
    import pandas as pd

    cmat = np.asarray(centroids, dtype=np.int64)  # k x dim
    k = cmat.shape[0]

    def partials(batches):
        acc = np.zeros_like(cmat)  # k x dim
        cnt = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["q"]), dtype=np.int64)  # n x dim
            d = ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
            cl = d.argmin(axis=1)
            np.add.at(acc, cl, q)
            cnt += np.bincount(cl, minlength=k)
        nz = np.flatnonzero(cnt)
        if len(nz) == 0:
            return  # empty task: yield nothing (never an untyped empty)
        yield pd.DataFrame(
            {
                "cluster": nz.astype("int32"),
                "s": [acc[c].tolist() for c in nz],
                "n": cnt[nz],
            }
        )

    return codes.select("q").mapInPandas(
        partials, "cluster int, s array<long>, n long"
    )


def kmeans_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    codes_df: DataFrame | None = None,
    keep_codes: bool = False,
) -> DataFrame:
    """Lloyd's iterations over int8 codes; returns the final assignment
    ``(id, cluster, dist)`` (dist = exact integer squared L2 in code
    space) — plus the ``q`` code column when ``keep_codes`` is set
    (callers that need codes alongside the assignment, e.g. SemDeDup's
    pairwise stage, read them straight off the final assign pass
    instead of paying a join back to the code table).

    Init: the codes of the k smallest ids (deterministic, replayable —
    k-means++ would drag float randomness into the parity contract).
    Each iteration is ONE zero-shuffle Arrow pass (round 15): the task
    assigns its batches against the broadcast centroid matrix and emits
    per-task partial sums — k rows of (cluster, s array<long>, n) — so
    only k x tasks bounded rows cross the Python boundary and the
    driver folds them into floored integer means (guide §2.3 "aggregate
    before you shuffle" taken to its limit: the former form shipped the
    full (id, q, cluster, dist) assignment back to the JVM and
    posexploded rows x dim elements through a (cluster, dim) exchange).
    Exactness unchanged: int64 partial sums are associative, and the
    driver's floor(float(s)/n) is the same IEEE double division the
    Spark expression performed (|s| <= rows * 127 stays well inside
    double's exact-integer range).

    ``codes_df``: optionally a pre-materialized ``(id, q)`` code frame
    (int8_codes output, already spread/checkpointed) — callers that
    also need the codes downstream (SemDeDup's pairwise stage) pass it
    to avoid quantizing the corpus twice.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0; got k={k} iters={iters}")
    from whisper_pandas_spark.operators.dedup import _spread

    # a small single-file fixture arrives as ONE partition, which would
    # run every Arrow assign pass on one worker (_spread docstring);
    # at real scale the scan already arrives wide and this is a no-op.
    # the stage barrier materializes the quantization ONCE: the iteration
    # runs 2-3 jobs over `codes` per Lloyd step — without the
    # barrier every job re-runs the full quantization Arrow pass
    # over its upstream lineage (measured 2x total at the sf1 stress,
    # back when the pass was still the interpreted expression form).
    codes = (
        codes_df
        if codes_df is not None
        else stage_materialize(_spread(int8_codes(df, id_col, vec_col)))
    )
    init_rows = codes.orderBy(id_col).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"k={k} but only {len(init_rows)} vectors")
    centroids = [list(r["q"]) for r in init_rows]
    dim = len(centroids[0])

    import math

    for _ in range(iters):
        parts = _update_sums(codes, centroids).collect()
        tot_s: dict[int, list[int]] = {}
        tot_n: dict[int, int] = {}
        for r in parts:
            c = r["cluster"]
            if c in tot_n:
                tot_n[c] += r["n"]
                ts = tot_s[c]
                for i, v in enumerate(r["s"]):
                    ts[i] += v
            else:
                tot_n[c] = r["n"]
                tot_s[c] = list(r["s"])
        new = [list(c) for c in centroids]  # empty clusters keep previous
        for c, n in tot_n.items():
            # |s| <= rows * 127: exact in double, floor matches DuckDB //;
            # float(s)/float(n) replicates the former Spark expression
            # (cast to double, THEN divide) bit-for-bit
            new[c] = [math.floor(float(s) / float(n)) for s in tot_s[c]]
        centroids = new

    final = _assign(codes, centroids)
    if keep_codes:
        return final.select(id_col, "q", "cluster", "dist")
    return final.select(id_col, "cluster", "dist")


def kmeans_summary(assigned: DataFrame, id_col: str) -> DataFrame:
    """Per-cluster audit row: size, exact id checksum, exact total
    inertia (all BIGINT — hash-gateable)."""
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("size"),
        F.sum(id_col).alias("id_sum"),
        F.sum("dist").alias("inertia"),
    )
