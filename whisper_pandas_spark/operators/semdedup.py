"""SemDeDup: semantic deduplication inside k-means cells
(Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
through semantic deduplication").

Extension beyond the reference (whisper_pandas.py, a 299-line .wsp
decoder, has no embedding surface): the published recipe — cluster the
embedding corpus, then inside each cluster drop every member whose
cosine similarity to an earlier-kept member exceeds a threshold — is
THE way web-scale pipelines remove paraphrase/boilerplate duplicates
that exact and MinHash dedup cannot see.

Relation to ``dedup_semantic`` (round 6, operators/dedup.py:
semantic_dedup): that entry is the FLOAT-cosine formulation — cells
from kmeans_cosine, within-cell pair JOIN with a rounded-cosine
threshold, connected-component closure, min-id-per-component keep.
This one is the exact-arithmetic execution-strategy sibling the
round-6 form cannot be: int8 codes make the gate PURE BIGINT (no
rounding tolerance for the oracle to absorb), the cell quadratic runs
as ONE vectorized numpy Gram inside applyInPandas instead of an
expression-evaluated pair join (the kmeans-assign Arrow precedent:
per-pair HOF dot products are interpreted per element and measured
super-linear), and the keep rule is the paper's own
smaller-id-neighbor form rather than component closure. Both stay
registered deliberately: same published recipe, two different
similarity-arithmetic/plan trade-offs, each value-gated end to end.

Exactness contract
------------------
Clustering is the exact-integer int8 k-means (operators/kmeans.py:
kmeans_int8 — assignments replay value-exactly in SQL), and the
in-cluster similarity gate is EXACT INTEGER arithmetic on the same
int8 codes:

    near(a, b)  <=>  dot > 0  AND  dot^2 * DEN >= NUM * |a|^2 * |b|^2

with NUM/DEN the rational form of theta^2 (0.97^2 = 9409/10000). For
dim-64 int8 codes every operand is a BIGINT well inside 2^63
(dot <= 64*127^2 ~ 1.03e6, dot^2*10^4 ~ 1.07e16), so the dropped SET
is bit-reproducible across engines/partitionings with NO float
tolerance anywhere — unusual for a "semantic" operator and exactly
what makes the entry hash-gateable.

Keep rule (cluster-local, as published): a vector is dropped iff some
SAME-CLUSTER vector with a SMALLER id is near it — the min-id
canonical rule of the exact-dedup family, applied in embedding space.

Scale design
------------
The pairwise stage runs per cluster via ``applyInPandas`` — one
shuffle keyed by cluster, then a vectorized exact-int64 numpy Gram
matrix per cell (the kmeans _assign Arrow precedent; a zip_with fold
would be interpreted per element — the MinHash lesson). Cells are
corpus/k sized: at 100 TB you raise k (SemDeDup's own paper runs
k ~ 10^4-10^5 precisely so cells stay bounded), and the quadratic
lives INSIDE a cell while everything across cells is embarrassingly
parallel. Codes shuffle as (id, 64 x int8-range ints) — never raw
text/embeddings-at-double — and the k-means stages themselves are the
audited ones from operators/kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.kmeans import int8_codes, kmeans_int8
from whisper_pandas_spark.stage import stage_materialize

# theta = 0.97 -> theta^2 = 9409/10000 (exact rational)
THETA_NUM = 9409
THETA_DEN = 10000


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 32,
    iters: int = 2,
    theta_num: int = THETA_NUM,
    theta_den: int = THETA_DEN,
) -> DataFrame:
    """(id, cluster, kept) for every input vector.

    ``kept`` is False iff a same-cluster vector with a smaller id
    passes the exact-integer cosine gate against it.
    """
    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.operators.dedup import _spread

    # quantize the corpus ONCE: the materialized code frame feeds both
    # the k-means iterations and the pairwise cell stage
    codes = stage_materialize(_spread(int8_codes(df, id_col, vec_col)))
    # keep_codes: the final assign pass already reads every code, so
    # the q column rides along for free — the former
    # assigned-join-codes (a full id-keyed shuffle of BOTH sides) is
    # gone and the only exchange left before the cell stage is the
    # cluster-keyed one applyInPandas needs anyway (round 14).
    assigned = kmeans_int8(
        df, id_col, vec_col, k=k, iters=iters, codes_df=codes,
        keep_codes=True,
    )
    cells = assigned.select(id_col, "cluster", "q")

    id_name = id_col

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_name, kind="mergesort").reset_index(
            drop=True
        )
        q = np.asarray(list(pdf["q"]), dtype=np.int64)  # n x dim
        g = q @ q.T  # exact int64 Gram
        n2 = np.diag(g).copy()  # |v|^2
        # int64 bound check: dot <= dim * 127^2; dot^2 * DEN and
        # NUM * |a|^2|b|^2 must stay under 2^63 (dim 64: ~1.07e16 ✓)
        dmax = int(n2.max(initial=0))
        if dmax and dmax * dmax * max(theta_den, theta_num) >= 2**63:
            raise ValueError("semdedup int64 overflow: dim/threshold too big")
        near = (g > 0) & (g * g * theta_den >= theta_num * np.outer(n2, n2))
        # dropped iff any earlier (smaller-id) row is near: strict lower
        # triangle only
        tri = np.tril(near, k=-1)
        dropped = tri.any(axis=1)
        return pd.DataFrame(
            {
                id_name: pdf[id_name],
                "cluster": pdf["cluster"],
                "kept": ~dropped,
            }
        )

    return cells.groupBy("cluster").applyInPandas(
        dedup_cell, f"{id_name} long, cluster int, kept boolean"
    )
