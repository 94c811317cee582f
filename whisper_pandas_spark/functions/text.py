"""Cross-engine deterministic text primitives.

These are the shared building blocks for the dedup / text-analysis operator
family (SURVEY.md §2.10 X1–X4). Every primitive here is expressible
IDENTICALLY in Spark SQL and DuckDB SQL, which is what makes the MinHash /
SimHash pipelines oracle-able bit-for-bit instead of "rows-only". The md5
hash family they hash with lives in :mod:`functions.hashing`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import duck_base_hash32, py_md5_int


def tokenize(text: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics, split on runs of spaces.

    Identical DuckDB form:
    ``regexp_split_to_array(trim(regexp_replace(lower(t),'[^a-z0-9]+',' ','g')),' ')``
    """
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))
    return F.split(cleaned, " ")


def word_shingles(tokens: Column, n: int = 3, distinct: bool = True) -> Column:
    """n-word shingles of a token array (order-preserving join by single
    spaces), DISTINCT by default (the dedup/minhash set semantics);
    ``distinct=False`` keeps the multiset (repetition analysis needs the
    duplicates the set view throws away). Empty array when the doc has
    < n tokens.

    PERF CONTRACT: pass a *materialized column reference*, never an inline
    expression — ``tokens`` is referenced n times inside the lambda body,
    and higher-order lambdas are interpreted, so an inline
    ``tokenize(text)`` here would re-run the regex/split n× per shingle
    (measured 6× slowdown at sf0.1). Project tokens into their own column
    first; see minhash_signature.

    DuckDB form: ``list_distinct(list_transform(range(1, greatest(len(t)-n+1,0)+1),
    i -> t[i] || ' ' || ... || t[i+n-1]))``
    """
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not [] — guard
    # short docs explicitly (DuckDB's range(1, 1) is already empty).
    idx = F.when(
        F.size(tokens) >= n, F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j) for j in range(n)]
        ),
    )
    return F.array_distinct(sh) if distinct else sh


def word_shingle_stats(tokens: Column, n: int = 3) -> tuple[Column, Column]:
    """(n_shingles, n_distinct) of the n-word shingle MULTISET — the
    repetition-analysis counts — as pure CODEGEN expressions.

    Why not ``size(word_shingles(...))``: the lambda-based builder is a
    higher-order function, which is CodegenFallback (interpreted), and
    Catalyst's PushDownPredicates/CollapseProject substitute it into
    downstream filter conditions where the token array reference inside
    the lambda re-evaluates the full tokenize() regex PER ELEMENT —
    measured 19 s for a 5 000-doc gate at sf0.1. This form zips n
    ``slice``s of the token array into an array of structs (tokens are
    space-free, so space-joined shingle strings are injective in the
    token triple — identical distinct counts, asserted in tests) and
    stays inside whole-stage codegen, whose subexpression elimination
    also dedupes the repeated tokenize subtree: the same gate runs in
    1.2 s (16×) and scales as one compiled scan at 100 TB.

    DuckDB form (counts only): total ``greatest(len(t)-n+1, 0)``;
    distinct via the string-shingle list_distinct (same counts).
    """
    cnt = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(tokens, i + 1, cnt) for i in range(n)])
    return F.size(zipped), F.size(F.array_distinct(zipped))


# MinHash universal-hash family: ONE md5 per shingle (32-bit base hash),
# then num_perm cheap permutations h_i = (a_i*h + b_i) mod p — the standard
# datasketch-style construction. Overflow-safe on both engines:
# a_i < 2^30, h < 2^32 ⟹ a_i*h < 2^62; + b_i < 2^61 ⟹ sum < 2^63.
MINHASH_P = (1 << 61) - 1  # Mersenne prime 2^61-1


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs derived from md5 — identical literals
    are embedded in the Spark plan and the DuckDB oracle SQL."""
    out = []
    for i in range(num_perm):
        a = py_md5_int(f"minhash-a:{i}", 8)
        b = py_md5_int(f"minhash-b:{i}", 15)
        out.append((a % ((1 << 30) - 1) + 1, b % MINHASH_P))
    return out


DUCK_TOKS = (
    "regexp_split_to_array(trim(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g')), ' ')"
)
DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(t)-2, 0)+1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


def duck_minhash_pairs_ctes(
    num_perm: int, bands: int, rows: int, jaccard_t: float
) -> str:
    """DuckDB CTE chain ending in ``mh_pairs (doc_i, doc_j, jaccard)`` —
    the full MinHash→LSH→verify replication over `documents`. Shared by
    the batch dedup oracles (queries_dedup) and the streaming replay
    oracle (queries_streaming), so the algorithm is written down exactly
    once. LSH has false negatives by design — ground-truth all-pairs
    would NOT match — but the md5 hash family is engine-portable, so the
    replication is exact."""
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(hh, h -> ({a} * h + {b}) % {MINHASH_P})) AS m{i}"
        for i, (a, b) in enumerate(minhash_perm_constants(num_perm))
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"m{b * rows + r}::VARCHAR" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
), shing AS (
  SELECT doc_id, {DUCK_SHINGLES} AS s FROM toks
), shf AS (
  SELECT doc_id, list_distinct(list_transform(s, x -> {duck_base_hash32("x")})) AS hh
  FROM shing WHERE len(s) > 0
), sig AS (
  SELECT doc_id, hh,
    {sig_cols}
  FROM shf
), bands AS (
{band_selects}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), scored AS (
  SELECT doc_i, doc_j,
    round(len(list_intersect(x.hh, y.hh)) * 1.0
          / len(list_distinct(list_concat(x.hh, y.hh))), 6) AS jaccard
  FROM cand
  JOIN sig x ON cand.doc_i = x.doc_id
  JOIN sig y ON cand.doc_j = y.doc_id
), mh_pairs AS (
  SELECT * FROM scored WHERE jaccard >= {jaccard_t}
)"""
