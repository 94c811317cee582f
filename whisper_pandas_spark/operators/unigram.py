"""Distributed unigram-LM tokenizer training (SentencePiece-style) and
Viterbi encoding.

The public algorithm (Kudo 2018, "Subword Regularization", arXiv:
1804.10959): model a word as a sequence of subword pieces drawn i.i.d.
from a unigram distribution; fit piece probabilities by EM over the
lattice of all segmentations (forward-backward expected counts), then
shrink an over-complete seed vocabulary toward the target size and
encode with Viterbi (max-probability segmentation). Together with
`operators/bpe_train.py` this gives the engine both mainstream subword
tokenizer families.

Scale shape (same doctrine as BPE/k-means):

- **Corpus -> (word, freq) once** — one corpus-level shuffle; all
  training iterates over the unique-word table (Zipf-bounded).
- **Seed vocabulary** via built-in substring explosion + one partial-agg
  exchange; top-`seed_size` by count (all single characters kept).
- **E-step**: one Arrow pass over the word table per iteration with the
  piece log-probs BROADCAST (the driver only ever holds the piece
  table, never words); expected counts aggregate through
  DECIMAL(38,12) sums so the fit is partitioning-independent
  (repartition-determinism asserted in tests).
- **M-step / prune**: driver-side over the piece table (vocab-sized,
  the kmeans-centroid / BPE-merge-table pattern). Pruning keeps all
  single characters (so encoding never dead-ends) and drops the
  lowest-expected-count multi-char pieces — the standard practical
  approximation of Kudo's loss-based pruning.

Determinism: double math is confined to per-word lattices (fixed
iteration order) and the decimal-folded aggregation; Viterbi ties break
toward the LONGER leading piece, then lexicographically. Training twice
on any partitioning yields the identical vocabulary and token streams.

No reference parity: whisper_pandas has no text surface; this backs
SURVEY §2.10 X4 / §2.11 next to bpe_train.
"""

from __future__ import annotations

import math
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from whisper_pandas_spark.operators.bpe_train import _word_vocab
from whisper_pandas_spark.sources.meta import _local_frame
from whisper_pandas_spark.stage import stage_materialize

_MAX_WORD = 64  # lattice cost is O(len * max_piece_len); cap abusive words


def _seed_vocab(
    words: DataFrame, max_piece_len: int, seed_size: int
) -> DataFrame:
    """(piece, cnt) — every substring of length <= max_piece_len of the
    corpus words, frequency-weighted, truncated to the top ``seed_size``
    by count with ALL single characters retained."""
    subs = F.flatten(
        F.expr(
            f"""
            transform(sequence(1, length(substring(word, 1, {_MAX_WORD}))),
              i -> transform(
                sequence(1, least({max_piece_len},
                                  length(substring(word, 1, {_MAX_WORD})) - i + 1)),
                l -> substr(substring(word, 1, {_MAX_WORD}), i, l)))
            """
        )
    )
    counts = (
        words.select(F.col("freq"), F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = counts.filter(F.length("piece") == 1)
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(seed_size)
    )
    return chars.unionByName(multi)


def _lattice_pass(
    word: str, freq: int, logp: dict, max_len: int, out: dict
) -> float:
    """Forward-backward over one word's segmentation lattice; adds
    freq-weighted expected piece counts into ``out``. Returns the word's
    log-likelihood * freq (corpus loglik contribution)."""
    n = len(word)
    NEG = -1e30
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    spans = []  # (j, i, piece, lp), in deterministic (i, j) order
    for i in range(1, n + 1):
        terms = []
        for j in range(max(0, i - max_len), i):
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None or alpha[j] <= NEG / 2:
                continue
            spans.append((j, i, piece, lp))
            terms.append(alpha[j] + lp)
        if terms:
            m = max(terms)
            alpha[i] = m + math.log(sum(math.exp(t - m) for t in terms))
    if alpha[n] <= NEG / 2:
        return 0.0  # unsegmentable (char missing) — contributes nothing
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        terms = [
            lp + beta[i]
            for j2, i, _p, lp in spans
            if j2 == j and beta[i] > NEG / 2
        ]
        if terms:
            m = max(terms)
            beta[j] = m + math.log(sum(math.exp(t - m) for t in terms))
    z = alpha[n]
    for j, i, piece, lp in spans:
        if alpha[j] <= NEG / 2 or beta[i] <= NEG / 2:
            continue
        gamma = math.exp(alpha[j] + lp + beta[i] - z)
        if gamma > 1e-12:
            out[piece] = out.get(piece, 0.0) + freq * gamma
    return freq * z


def _expected_counts(words: DataFrame, logp: dict, max_len: int) -> dict:
    """Distributed E-step: one Arrow pass over (word, freq) with the
    piece log-probs broadcast; DECIMAL-folded aggregation so the result
    is independent of partitioning."""
    import pandas as pd

    spark = words.sparkSession
    bc = spark.sparkContext.broadcast(logp)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        lp = bc.value
        for pdf in batches:
            acc: dict[str, float] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                _lattice_pass(word[:_MAX_WORD], int(freq), lp, max_len, acc)
            if acc:
                yield pd.DataFrame(
                    {"piece": list(acc.keys()), "ec": list(acc.values())}
                )

    rows = (
        words.mapInPandas(run, "piece string, ec double")
        .groupBy("piece")
        .agg(F.sum(F.col("ec").cast("decimal(38,12)")).alias("ec"))
        .collect()
    )
    bc.unpersist()
    return {r["piece"]: float(r["ec"]) for r in rows}


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    max_piece_len: int = 8,
    seed_size: int | None = None,
    em_iters: int = 2,
    shrink: float = 0.75,
) -> DataFrame:
    """Fit a unigram-LM subword vocabulary over the corpus. Returns a
    small DataFrame (piece STRING, logp DOUBLE) of ``<= max(vocab_size,
    n_chars)`` rows (all single characters are always kept).

    ``em_iters`` EM sweeps run between pruning rounds; each round drops
    the lowest-expected-count multi-char pieces down to
    ``max(vocab_size, ceil(len * shrink))`` until the target is reached.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if not 0.0 < shrink < 1.0:
        raise ValueError("shrink must be in (0, 1)")
    if max_piece_len < 1:
        raise ValueError("max_piece_len must be >= 1")
    spark = df.sparkSession
    words = stage_materialize(_word_vocab(df, text_col))
    if seed_size is None:
        seed_size = max(vocab_size * 4, 16)
    seed = _seed_vocab(words, max_piece_len, seed_size).collect()
    if not seed:
        raise ValueError("empty corpus: no seed pieces")
    total = float(sum(r["cnt"] for r in seed))
    logp = {r["piece"]: math.log(r["cnt"] / total) for r in seed}
    chars = {p for p in logp if len(p) == 1}

    while True:
        for _ in range(em_iters):
            ec = _expected_counts(words, logp, max_piece_len)
            # characters survive even at zero expectation (encode floor)
            floor = 1e-9
            tot = sum(ec.values()) + floor * len(chars)
            logp = {
                p: math.log(max(ec.get(p, 0.0), floor if p in chars else 0.0) / tot)
                for p in logp
                if ec.get(p, 0.0) > 0.0 or p in chars
            }
        n_multi = sum(1 for p in logp if len(p) > 1)
        target_multi = max(vocab_size - len(chars), 0)
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(math.ceil(n_multi * shrink)))
        if keep >= n_multi:
            keep = target_multi
        ranked = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        kept = dict(ranked[:keep])
        logp = {p: lp for p, lp in logp.items() if len(p) == 1 or p in kept}

    return vocab_frame(spark, sorted(logp.items()))


_VOCAB_SCHEMA = StructType(
    [StructField("piece", StringType()), StructField("logp", DoubleType())]
)


def vocab_frame(spark: SparkSession, rows: list[tuple[str, float]]) -> DataFrame:
    """(piece, logp) rows as a driver-local frame built from Arrow: a
    list-built frame would pickle its rows through Python tasks."""
    return _local_frame(spark, rows, _VOCAB_SCHEMA)


def _viterbi(word: str, logp: dict, max_len: int) -> list[str] | None:
    """Max-probability segmentation; ties prefer the LONGER leading
    piece then lexicographic order. None if unsegmentable."""
    n = len(word)
    NEG = -1e30
    best = [NEG] * (n + 1)
    back: list[int] = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            lp = logp.get(word[j:i])
            if lp is None or best[j] <= NEG / 2:
                continue
            s = best[j] + lp
            # strict > keeps the SMALLEST j (longest piece) on ties
            if s > best[i] or (s == best[i] and j < back[i]):
                best[i], back[i] = s, j
    if best[n] <= NEG / 2:
        return None
    pieces = []
    i = n
    while i > 0:
        j = back[i]
        pieces.append(word[j:i])
        i = j
    return pieces[::-1]


def unigram_encode_words(
    words: DataFrame, vocab: DataFrame, max_piece_len: int = 8
) -> DataFrame:
    """(word, tokens ARRAY<STRING>) for every row of ``words`` (a column
    named ``word``): Viterbi segmentation under the fitted vocabulary,
    with the vocab broadcast into one Arrow pass. Unsegmentable words
    (characters outside the vocabulary) yield NULL tokens — the caller
    decides between skip and unk-substitution."""
    import pandas as pd

    spark = words.sparkSession
    logp = {r["piece"]: r["logp"] for r in vocab.collect()}
    bc = spark.sparkContext.broadcast(logp)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        lp = bc.value
        for pdf in batches:
            toks = [
                _viterbi(str(w)[:_MAX_WORD], lp, max_piece_len)
                for w in pdf["word"]
            ]
            yield pd.DataFrame({"word": pdf["word"], "tokens": toks})

    return words.select("word").mapInPandas(
        run, "word string, tokens array<string>"
    )


def unigram_token_count(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    max_piece_len: int = 8,
) -> DataFrame:
    """(id, n_words, n_tokens, n_unseg): corpus token statistics under a
    fitted vocabulary — the budget signal sequence packing and mixture
    sampling consume. Tokenizes the UNIQUE words once (Arrow pass), then
    joins counts back; per-document Python never runs."""
    from whisper_pandas_spark.functions.text import tokenize

    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    ).where(F.col("word") != "")
    uniq = exploded.select("word").distinct()
    encoded = unigram_encode_words(uniq, vocab, max_piece_len).select(
        "word",
        F.when(F.col("tokens").isNull(), F.lit(-1))
        .otherwise(F.size("tokens"))
        .alias("__nt"),
    )
    joined = exploded.join(encoded, "word")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.when(F.col("__nt") >= 0, F.col("__nt")).otherwise(0)).alias(
                "n_tokens"
            ),
            F.sum((F.col("__nt") < 0).cast("long")).alias("n_unseg"),
        )
        .select(F.col("id").alias(id_col), "n_words", "n_tokens", "n_unseg")
    )
