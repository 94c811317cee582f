"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
algorithm).

Extension beyond the reference (no text surface in whisper_pandas.py).
Complements the existing fingerprint family: `text_fingerprints` is a
whole-document rolling hash (any edit changes it), MinHash/SimHash are
set-level sketches; winnowing yields POSITIONED local fingerprints with
the paper's guarantee — any shared substring of length >= w + k - 1
produces at least one shared fingerprint — which is what plagiarism /
near-verbatim-overlap detection at corpus scale needs.

Algorithm (paper §3): hash every k-gram, slide a window of w
consecutive k-gram hashes, select the minimum of each window, breaking
ties by RIGHTMOST position; record each selected (hash, position) once.

Scale design
------------
Everything after the token explode is ONE exchange on doc id followed
by partition-local window passes — and none of it uses higher-order
array lambdas, which are CodegenFallback (interpreted per element; the
round-8 MinHash lesson, operators/dedup.py:_spread docstring):

- k-grams materialize as ``concat_ws(tok, lead(tok,1), ...,
  lead(tok,k-1))`` over the (doc, pos) window — the k-1 leads and the
  md5→BIGINT hash (the repo's cross-engine family) run post-shuffle on
  every core, fully inside codegen expressions, instead of a
  per-document `transform(sequence...)` lambda on the scan's (possibly
  single-file) partitioning.
- The winnowing recurrence is `min(struct(hash, -pos))` over ``ROWS
  BETWEEN CURRENT ROW AND w-1 FOLLOWING`` on the SAME window spec
  (struct ordering compares hash first, then -pos, so the larger
  position wins ties) — no second exchange.
- Full windows only (starts 0 .. ng-w, via a partition-wide count on
  the same spec); a document with fewer than w k-grams has exactly one
  short window at start 0.
- The distinct over selected (doc, pos, fp) keeps the doc-id hash
  partitioning (doc id is among the grouping keys), so it is
  partition-local — plan-audited: exchanges = window shuffle + final
  sort, nothing else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import (
    HASH_HEX_CHARS,
    duck_md5_int,
    py_md5_int,
    seeded_hash64,
)
from whisper_pandas_spark.stage import stage_materialize

#: cross-engine hash: first 15 md5 hex chars of "win:<gram>" as BIGINT
#: (functions/hashing.py).
HASH_PREFIX = "win"


def winnow_duck_hash(gram_sql: str) -> str:
    """DuckDB twin of the k-gram hash — oracles build on this."""
    return duck_md5_int(f"'{HASH_PREFIX}:' || {gram_sql}", HASH_HEX_CHARS)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprints of the token-array column *tokens_col*.

    Returns ``(id, pos, fp)`` — the selected k-gram start positions
    (0-based over the token sequence) and their 60-bit hashes, one row
    per DISTINCT selection, ordered by (id, pos). Documents with fewer
    than ``k`` tokens produce no rows; documents with fewer than
    ``k + w - 1`` tokens produce the minimum of their single short
    window (matching the paper's treatment of short suffixes is not
    needed — every window shorter than w is the whole sequence).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    toks = df.filter(F.size(F.col(tokens_col)) >= k).select(
        F.col(id_col), F.posexplode(tokens_col).alias("pos", "tok")
    )
    spec = Window.partitionBy(id_col).orderBy("pos")
    # k-gram at pos p exists iff all k-1 leads are non-null (p <= n-k);
    # concat_ws with the single-space joiner matches array_join(' ')
    parts = [F.col("tok")] + [F.lead("tok", i).over(spec) for i in range(1, k)]
    complete = parts[-1].isNotNull()
    grams = (
        toks.select(
            F.col(id_col),
            F.col("pos"),
            F.when(
                complete, seeded_hash64(F.concat_ws(" ", *parts), HASH_PREFIX)
            ).alias("h"),
        )
        .filter(F.col("h").isNotNull())
    )
    # rightmost-min of each w-window: struct(h, -pos) min over the
    # FORWARD frame starting at every window start; ng (gram count per
    # doc) rides the same partitioning as a full-frame count.
    win = spec.rowsBetween(Window.currentRow, w - 1)
    full = Window.partitionBy(id_col)
    sel = grams.select(
        F.col(id_col),
        F.count(F.lit(1)).over(full).alias("ng"),
        F.col("pos").alias("start"),
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(win).alias("m"),
    ).filter(F.col("start") <= F.greatest(F.col("ng") - w, F.lit(0)))
    return (
        sel.select(
            F.col(id_col),
            (-F.col("m.np")).alias("pos"),
            F.col("m.h").alias("fp"),
        )
        .distinct()
        .orderBy(id_col, "pos")
    )


def winnow_fingerprints_arrow(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Arrow twin of :func:`winnow_fingerprints` — same rows, zero
    corpus shuffle.

    Winnowing is a purely per-document algorithm, so the expression
    form's (doc, pos) exchange + three window passes over every token
    of the corpus buy nothing a partition-local pass doesn't: this
    variant runs the paper's sliding-window rightmost-min directly (a
    monotonic deque, O(grams) per doc) inside one mapInPandas stage.
    The k-gram hash is the identical md5 family (first 15 hex chars of
    'win:<gram>' as a 60-bit int), memoized per task because corpus
    grams repeat heavily; the memo resets at 2M entries to bound task
    memory. Rightmost tie-break: the deque pops ``>=`` from the back,
    so an equal hash further right evicts its twin — exactly
    min(struct(h, -pos)).
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from whisper_pandas_spark.operators.dedup import _spread

    id_type = df.schema[id_col].dataType.simpleString()

    def compute(batches):
        from collections import deque

        import pandas as pd

        memo: dict[str, int] = {}
        for pdf in batches:
            out_id, out_pos, out_fp = [], [], []
            for doc_id, toks in zip(pdf["_id"], pdf["_toks"]):
                if toks is None:
                    continue
                toks = list(toks)
                n = len(toks)
                if n < k:
                    continue
                if len(memo) > 2_000_000:
                    memo.clear()
                ng = n - k + 1
                hs = []
                for i in range(ng):
                    g = " ".join(toks[i : i + k])
                    h = memo.get(g)
                    if h is None:
                        h = py_md5_int(f"{HASH_PREFIX}:{g}", HASH_HEX_CHARS)
                        memo[g] = h
                    hs.append(h)
                sel: set[int] = set()
                dq: deque[int] = deque()
                for j in range(min(w, ng)):
                    while dq and hs[dq[-1]] >= hs[j]:
                        dq.pop()
                    dq.append(j)
                sel.add(dq[0])
                for s in range(1, max(ng - w, 0) + 1):
                    j = s + w - 1
                    while dq and hs[dq[-1]] >= hs[j]:
                        dq.pop()
                    dq.append(j)
                    while dq[0] < s:
                        dq.popleft()
                    sel.add(dq[0])
                for p in sorted(sel):
                    out_id.append(doc_id)
                    out_pos.append(p)
                    out_fp.append(hs[p])
            if out_id:
                yield pd.DataFrame(
                    {id_col: out_id, "pos": out_pos, "fp": out_fp}
                )

    src = _spread(
        df.filter(F.size(F.col(tokens_col)) >= k).select(
            F.col(id_col).alias("_id"), F.col(tokens_col).alias("_toks")
        )
    )
    return src.mapInPandas(
        compute, f"`{id_col}` {id_type}, pos long, fp long"
    )


def winnow_overlap_pairs(
    fps: DataFrame,
    id_col: str,
    min_shared: int = 2,
    max_fp_docs: int = 64,
) -> DataFrame:
    """MOSS-style overlap candidates from a winnowing fingerprint table
    (:func:`winnow_fingerprints` output): pairs of documents sharing at
    least ``min_shared`` distinct fingerprints, with the shared count —
    the actual plagiarism/near-verbatim-reuse readout the fingerprints
    exist for (paper §1: rank document pairs by matching fingerprints).

    Scale design:

    - the self-join runs on the fingerprint VALUE (an equi-join, never
      all-pairs) over per-doc DISTINCT fingerprints;
    - ``max_fp_docs`` is the stop-fingerprint guard (the text-retrieval
      stopword analogue, and the same skew knob as the LSH/phash
      max_bucket caps): a fingerprint appearing in more than this many
      documents is boilerplate shared by everyone — it would emit
      O(docs^2) candidate rows for one hash value and rank nothing
      useful. Dropping them bounds any value's join fan-out at
      max_fp_docs^2 and is the documented recall trade;
    - the pair count is a partial aggregation on (doc_i, doc_j).

    The distinct (id, fp) table is an eager stage barrier: it feeds
    the stop-fingerprint count AND both self-join sides, so without the
    barrier the whole upstream fingerprint build re-runs once per
    consumer (4 Arrow passes observed in the round-14 plan audit);
    narrow by construction, blocks GC-release with the DataFrame.
    """
    distinct_fps = stage_materialize(fps.select(id_col, "fp").distinct())
    small = (
        distinct_fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") <= max_fp_docs)
        .select("fp")
    )
    # SHUFFLE_HASH, explicitly (round 15, guide §3.1 — the PassJoin
    # lesson): every relation here is corpus-derived (the distinct
    # (id, fp) table, its fp-count filter, and both self-join sides),
    # and the checkpoint's unknown stats let the planner BROADCAST one
    # side of each join — fine at sf0.1, a corpus-sized broadcast at
    # 100 TB. The hints key all three joins on fp and build the
    # smaller side per partition; local timing is parity (measured).
    kept = distinct_fps.join(small.hint("shuffle_hash"), "fp")
    a = kept.select(F.col("fp"), F.col(id_col).alias("doc_i"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("doc_j"))
    return (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("doc_i", "doc_j")
    )
