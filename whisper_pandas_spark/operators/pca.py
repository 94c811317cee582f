"""Top principal component of an embedding corpus by power iteration —
exact-integer second-moment matrix, pinned-arithmetic iteration, fully
SQL-replayable.

Extension beyond the reference (no vector surface). The classic
embedding post-processing primitive: the top component of a corpus is
the "common direction" that all-but-the-top (Mu & Viswanath 2018) and
whitening pipelines remove before similarity search, and the per-vector
projection onto it is the standard corpus-drift / dominance diagnostic.

Parity design (why this is bit-replayable when float PCA is not):

- vectors enter as int8 CODES (operators/embeddings.py), centered by
  the FLOORED integer mean — centered codes are exact BIGINTs;
- the 64x64 second-moment matrix C = Qc^T Qc is computed as int64
  partial matmuls per Arrow batch and summed — integer addition is
  associative, so the result is exact and partitioning-independent;
- power iteration runs on the driver (C is k x k, trivially collected)
  with LEFT-TO-RIGHT folds everywhere: w_a = fold over b of
  C[a][b] * v[b], norm = sqrt(fold of w_a^2), v = w / norm, starting
  from v0 = 1/8 (= 1/sqrt(64), exact in binary). The oracle replays
  the identical fold order per iteration, so every double matches
  bit-for-bit;
- per-vector projections fold over dimensions in index order (the
  Arrow pass accumulates dimension-sequentially, vectorized across
  rows — same operation order as the SQL list_reduce).

Scale shape: one Arrow pass for the Gram partials (4096 int64 cells
per input partition, summed by one bounded exchange), driver-side
iteration on the k x k matrix, one map-side Arrow projection pass.
Nothing grows with the corpus except the two linear scans.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

PCA_ITERS = 10


def _centered_codes(df: DataFrame, id_col: str, vec_col: str, dim: int):
    """(codes frame with qc = q - floored-int-mean, and the mean list)."""
    from whisper_pandas_spark.operators.kmeans import int8_codes

    codes = stage_materialize(int8_codes(df, id_col, vec_col))
    mu_rows = (
        codes.select(F.posexplode("q").alias("d", "v"))
        .groupBy("d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "d",
            F.floor(F.col("s").cast("double") / F.col("n"))
            .cast("long")
            .alias("mu"),
        )
        .collect()
    )
    mu = [0] * dim
    for r in mu_rows:
        mu[r["d"]] = r["mu"]
    mu_arr = F.array(*[F.lit(int(x)).cast("long") for x in mu])
    qc = codes.select(
        F.col(id_col),
        F.zip_with("q", mu_arr, lambda a, b: a - b).alias("qc"),
    )
    return qc, mu


def gram_matrix(qc: DataFrame, dim: int) -> list[list[int]]:
    """Exact int64 C = Qc^T Qc via per-batch numpy matmuls + one bounded
    sum exchange."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["qc"]), dtype=np.int64)
            g = q.T @ q  # exact int64
            a, b = np.meshgrid(range(dim), range(dim), indexing="ij")
            yield pd.DataFrame(
                {"a": a.ravel(), "b": b.ravel(), "c": g.ravel()}
            )

    rows = (
        qc.select("qc")
        .mapInPandas(partials, "a int, b int, c long")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    c = [[0] * dim for _ in range(dim)]
    for r in rows:
        c[r["a"]][r["b"]] = int(r["c"])
    return c


def power_iterate(
    c: list[list[int]], iters: int = PCA_ITERS
) -> tuple[list[float], float]:
    """(v, last_norm) after *iters* left-to-right-fold power steps from
    v0 = 1/8 per coordinate. Replayed verbatim by the SQL oracle."""
    dim = len(c)
    v = [0.125] * dim
    norm = 0.0
    for _ in range(iters):
        w = []
        for a in range(dim):
            acc = 0.0
            for b in range(dim):
                acc = acc + c[a][b] * v[b]
            w.append(acc)
        acc = 0.0
        for a in range(dim):
            acc = acc + w[a] * w[a]
        norm = math.sqrt(acc)
        if norm == 0.0:
            # degenerate corpus: all centered codes are zero, so C = 0
            # and the iteration has no direction to converge to — fail
            # loudly instead of a bare ZeroDivisionError (round-13
            # ADVICE fix)
            raise ValueError(
                "power iteration collapsed: Gram matrix is zero "
                "(all centered vectors identical — no principal direction)"
            )
        v = [x / norm for x in w]
    return v, norm


def pca_top_component(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iters: int = PCA_ITERS,
) -> DataFrame:
    """(id, proj, eig) — every vector's projection onto the corpus's
    top principal direction (round 6) and the power-iteration norm
    (the eigenvalue estimate, constant column, round 6)."""
    import numpy as np
    import pandas as pd

    qc, _ = _centered_codes(df, id_col, vec_col, dim)
    qc = stage_materialize(qc)
    c = gram_matrix(qc, dim)
    v, norm = power_iterate(c, iters)
    eig = round(norm, 6)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["qc"]), dtype=np.int64)
            # dimension-SEQUENTIAL accumulation (vectorized across rows):
            # the same left-to-right fold order as the SQL replay
            acc = np.zeros(len(q), dtype=np.float64)
            for d in range(dim):
                acc = acc + q[:, d] * v[d]
            # schema binds by NAME in PySpark 4 — label with the
            # caller's id column (round-13 ADVICE fix)
            yield pd.DataFrame({id_col: pdf.iloc[:, 0], "proj": acc})

    out = qc.mapInPandas(project, f"{id_col} long, proj double")
    return out.select(
        F.col(id_col),
        F.round("proj", 6).alias("proj"),
        F.lit(eig).alias("eig"),
    )


def abtt_correct(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iters: int = PCA_ITERS,
) -> DataFrame:
    """All-but-the-top correction (Mu & Viswanath 2018, D=1): remove
    the corpus top component from every centered code vector —
    ``a = qc - proj * v`` element-wise. Returns (id, a array<double>).

    Same pinned arithmetic as :func:`pca_top_component` (the projection
    fold is dimension-sequential; each corrected element is one
    multiply + subtract on identical operands), so the corrected
    vectors — and anything downstream, e.g. similarity rankings —
    replay bit-for-bit in SQL.
    """
    import numpy as np
    import pandas as pd

    qc, _ = _centered_codes(df, id_col, vec_col, dim)
    qc = stage_materialize(qc)
    c = gram_matrix(qc, dim)
    v, _ = power_iterate(c, iters)
    varr = np.asarray(v, dtype=np.float64)

    def correct(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["qc"]), dtype=np.int64)
            acc = np.zeros(len(q), dtype=np.float64)
            for d in range(dim):
                acc = acc + q[:, d] * v[d]
            a = q.astype(np.float64) - acc[:, None] * varr[None, :]
            yield pd.DataFrame({id_col: pdf.iloc[:, 0], "a": list(a)})

    return qc.mapInPandas(correct, f"{id_col} long, a array<double>")
