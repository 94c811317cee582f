"""Sliding-window document chunking (RAG / context-window preparation).

The reference (`whisper_pandas.py`) has no text surface; this module
extends the engine with the chunking step every retrieval or
long-context training pipeline runs before embedding: split each
document into overlapping fixed-size word windows with stable,
reproducible chunk identities, so re-runs (and incremental appends)
produce byte-identical chunk rows.

Design points:

- **Pure codegen, no lambda HOFs.** The window enumeration is
  ``posexplode(sequence(...))`` + ``slice`` + ``array_join`` — all
  whole-stage-codegen expressions. (``transform``/``filter`` lambda
  HOFs are CodegenFallback and get re-evaluated per element once
  predicate pushdown inlines them — the round-8 shingle-stats lesson,
  functions/text.py.)
- **All-integer window arithmetic.** The chunk count is
  ``1 + (n - size + stride - 1) DIV stride`` — integer division on
  both engines, no float ceil to disagree over.
- **Scale.** One projection + one generator — embarrassingly parallel,
  zero shuffles; output order is imposed by the caller. The explode
  fan-out is bounded by ~n_words/stride per document, so output bytes
  are ~(size/stride)x the corpus — the caller picks the overlap ratio
  knowing that multiplier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ASCII whitespace, spelled out: Java's \s includes \x0B (vertical tab)
# while RE2's does not, so an explicit class is the only spelling that
# reads identically in the engine (Spark/Java) and the oracle
# (DuckDB/RE2). The same literal is used in the registry oracle SQL
# (queries_text.py) — keep the two in sync.
WS_SPLIT_RE = "[ \\t\\n\\r\\f\\x0B]+"
WS_TRIM_RE = "^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$"


def rag_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping word windows.

    Returns (id_cols..., chunk_idx INT, n_words BIGINT — the DOCUMENT
    word count, n_chunk_words INT, chunk_text STRING). Window *i* covers
    words [i*stride, i*stride + size); the final window may be short but
    is never empty; a document with at most ``size`` words yields
    exactly one chunk. Documents whose text is empty or whitespace-only
    are dropped (no words to window).

    Tokenization splits on the EXPLICIT whitespace class
    ``[ \\t\\n\\r\\f\\x0B]+`` after stripping that same class from both
    ends — spelled out rather than ``\\s`` because Java's ``\\s``
    includes vertical tab (``\\x0B``) while RE2's does not, and because
    ``trim()`` strips only 0x20, so text leading with a tab would
    otherwise yield an empty first token that inflates ``n_words``.
    With the explicit class and regex trim, both engines (Spark/Java and
    DuckDB/RE2) tokenize identically for ASCII whitespace; exotic
    Unicode spaces (e.g. U+00A0) are deliberately NOT separators on
    either side.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    if stride > size:
        raise ValueError("stride must be <= size (windows must tile)")
    trimmed = F.regexp_replace(F.col(text_col), WS_TRIM_RE, "")
    words = F.split(trimmed, WS_SPLIT_RE)
    n = F.size(words).cast("bigint")
    # integer ceil((n-size)/stride): exact — the double division sees
    # integers far below 2^53, and floor of an exact quotient is the DIV
    n_chunks: Column = F.when(n <= size, F.lit(1).cast("bigint")).otherwise(
        F.lit(1) + F.floor((n - size + stride - 1) / F.lit(stride))
    )
    base = (
        df.filter(F.length(trimmed) > 0)
        .select(
            *[F.col(c) for c in id_cols],
            words.alias("__ws"),
            n.alias("n_words"),
            n_chunks.alias("__nc"),
        )
    )
    idx = F.posexplode(F.sequence(F.lit(0), (F.col("__nc") - 1).cast("int")))
    exploded = base.select(
        *[F.col(c) for c in id_cols],
        "n_words",
        "__ws",
        idx.alias("__pos", "chunk_idx"),
    )
    start = F.col("chunk_idx") * stride  # 0-based word offset
    return exploded.select(
        *[F.col(c) for c in id_cols],
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "n_words",
        F.least(F.lit(size).cast("bigint"), F.col("n_words") - start)
        .cast("int")
        .alias("n_chunk_words"),
        F.array_join(
            F.slice(F.col("__ws"), (start + 1).cast("int"), size), " "
        ).alias("chunk_text"),
    )
