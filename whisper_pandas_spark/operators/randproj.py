"""Random-projection (Johnson–Lindenstrauss) dimensionality reduction
for embeddings — the classic ANN accelerator (Achlioptas 2003
"Database-friendly random projections": +-1 sign matrices preserve
inner products in expectation with JL-style concentration).

Extension beyond the reference (no vector surface). Completes the
ANN-cost-reduction axis next to scalar quantization (int8: fewer BITS
per dimension) and PQ (codebooks): random projection is fewer
DIMENSIONS per comparison — a 64-dim corpus scored in 16-dim projected
space costs 4x less per candidate pair, with the projection itself a
one-pass map-side transform.

Determinism / parity design:

- the sign matrix is the repo's md5 family: sign(d, j) = +1 when the
  first hex digit of md5("rp:<d>:<j>") is even, -1 otherwise — any
  engine reproduces it from the string alone (no RNG state);
- projection runs over the int8 CODES (operators/embeddings.py), so
  every projected coordinate is an exact BIGINT sum — order-free,
  bit-identical under any partitioning/retry, trivially SQL-replayable
  (the same reason emb_kmeans_int8 clusters codes, not floats);
- the Arrow pass computes all coordinates as one int64 matmul per
  batch (no higher-order lambdas — the CodegenFallback lesson);
  integer matmul has no summation-order hazard.

Scale shape: projection is map-side (sign matrix in the closure, zero
shuffle); downstream top-k reuses the two-stage local/global rank
reduction every sim_* entry uses, but over out_dim-element arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from whisper_pandas_spark.functions.hashing import duck_md5_int, py_md5_int

RP_OUT_DIM = 16
RP_PREFIX = "rp"


def rp_sign(d: int, j: int) -> int:
    """+1 / -1 from the first md5 hex digit of 'rp:<d>:<j>' (even -> +1)."""
    return 1 if py_md5_int(f"{RP_PREFIX}:{d}:{j}", 1) % 2 == 0 else -1


def rp_duck_sign(d_sql: str, j_sql: str) -> str:
    """DuckDB twin of :func:`rp_sign` — oracles build on this."""
    h = duck_md5_int(
        f"'{RP_PREFIX}:' || CAST({d_sql} AS VARCHAR) || ':'"
        f" || CAST({j_sql} AS VARCHAR)",
        1,
    )
    return f"(CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END)"


def rp_sign_matrix(in_dim: int, out_dim: int = RP_OUT_DIM) -> list[list[int]]:
    """in_dim x out_dim +-1 matrix (row d, column j)."""
    return [[rp_sign(d, j) for j in range(out_dim)] for d in range(in_dim)]


def rp_project_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = RP_OUT_DIM,
) -> DataFrame:
    """(id, p) — exact-integer projected code vectors (array<bigint>,
    length *out_dim*) of the int8 codes of *vec_col*.

    One Arrow pass, one int64 matmul per batch, zero shuffles."""
    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.operators.kmeans import int8_codes

    smat = np.asarray(rp_sign_matrix(in_dim, out_dim), dtype=np.int64)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.asarray(list(pdf["q"]), dtype=np.int64)
            p = q @ smat  # exact: |q| <= 127, in_dim <= 2^45 headroom
            # schema binds by NAME in PySpark 4 — label with the
            # caller's id column (round-13 ADVICE fix)
            yield pd.DataFrame(
                {id_col: pdf.iloc[:, 0], "p": list(p)}
            )

    codes = int8_codes(df, id_col, vec_col)
    out = codes.mapInPandas(project, f"{id_col} long, p array<bigint>")
    return out
