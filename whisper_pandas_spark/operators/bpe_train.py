"""Distributed BPE tokenizer training (byte-pair-encoding merge
learning) over a document corpus.

The public BPE algorithm (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"): start from characters,
repeatedly merge the most frequent adjacent symbol pair. This module
fits the merge table Spark-natively, and segments documents with a
learned table — the tokenizer-fitting step of a training-data pipeline
(the existing `text_bpe_token_count` is a regex approximation; this is
the real thing).

Scale shape (the part that matters at 100 TB):

- **Corpus -> word vocabulary once.** BPE statistics depend only on
  (unique word, frequency) — one corpus-level shuffle TOTAL, after
  which every iteration works on the vocab table (Zipf: orders of
  magnitude smaller than the corpus, and still fully distributed).
- **Merge loop: driver-local by default** (:func:`learn_merges_local`):
  the Zipf-bounded histogram collects ONCE and the merge loop runs
  locally with incremental pair statistics — Spark-job count constant
  in the vocabulary size, so a production 32k–50k-merge vocab is a
  tight local loop, not 50k sequential jobs. ``distributed=True`` opts
  into the per-merge Spark iteration (:func:`learn_merges`): one
  partial-agg exchange over the vocab (adjacent-pair counts, map-side
  combined), a driver-side top-1 (a single 2-string row), and one
  Arrow map applying the merge — for corpora whose unique-word table
  genuinely cannot collect. Both modes are bit-identical
  (property-tested).
- **Lineage truncation per iteration** (an eager stage barrier),
  the `kmeans_cosine(checkpoint=True)` pattern: the plan stays constant
  in the iteration count instead of compounding K map stages deep.
- **Segmentation** re-uses the same vocab trick: apply merges to the
  UNIQUE words of the batch (Arrow pass), then join token counts back
  to documents — per-document Python never touches full texts twice.

Determinism: ties on pair frequency break lexicographically, so the
merge table is a pure function of the corpus — reproducible on any
engine, any partitioning (asserted in tests against an independent
single-node reference implementation).

No reference-repo parity: whisper_pandas has no text surface; this
backs SURVEY.md §2.10 X4 / §2.11.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.text import tokenize
from whisper_pandas_spark.stage import stage_materialize

END = "</w>"  # end-of-word marker, per the original BPE formulation


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — the one corpus-level shuffle."""
    return (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_syms(syms: list, a: str, b: str) -> list:
    """Apply one merge (a, b) -> a+b left-to-right, the BPE rule."""
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn_merges_local(
    vocab_rows,
    num_merges: int,
    min_pair_freq: int = 2,
) -> list[tuple[str, str]]:
    """Driver-local BPE merge loop over a collected (syms, freq)
    vocabulary — the production-scale training mode on the VOCAB axis.

    Why it exists: the distributed loop (:func:`learn_merges`) runs ONE
    Spark job + a 1-row collect PER MERGE — fine at 16 merges, a
    wall-clock wall at a production 32k–50k-merge vocab (tens of
    thousands of sequential jobs, each paying scheduler latency). BPE
    statistics depend only on the (unique word, frequency) table, which
    is Zipf-bounded — orders of magnitude smaller than the corpus and
    collectible at any corpus size that has a tokenizer-sized vocabulary
    at all. So the scale recipe is: build the histogram distributed
    (one corpus shuffle), collect it ONCE, run the merge loop here, and
    keep encoding distributed. This is the standard production shape
    (Sennrich et al. 2016's reference `learn_bpe` is single-node over
    exactly this table).

    Bit-identical to :func:`learn_merges` by construction (asserted by
    a property test): same pair statistic (freq-weighted adjacent-pair
    counts), same tie-break (count desc, then (a, b) ascending — Python
    code-point order == Spark's UTF8 binary order), same
    ``min_pair_freq`` early stop, same left-to-right non-overlapping
    merge pass (:func:`_merge_syms`).

    Complexity: incremental pair statistics with a lazy max-heap —
    each merge touches only the words that CONTAIN the merged pair
    (an inverted pair→word index), so total work is proportional to
    symbols actually rewritten, not merges × vocab. A fresh heap entry
    is pushed on every count change; stale entries are discarded on
    pop, so the first entry matching the live count is the true
    maximum under the exact tie-break order.
    """
    import heapq
    from collections import defaultdict

    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")

    words: list[list[str]] = []
    freqs: list[int] = []
    stats: dict[tuple[str, str], int] = defaultdict(int)
    index: dict[tuple[str, str], set[int]] = defaultdict(set)
    for syms, f in vocab_rows:
        i = len(words)
        w = list(syms)
        words.append(w)
        freqs.append(int(f))
        for p in zip(w, w[1:]):
            stats[p] += int(f)
            index[p].add(i)

    heap = [(-n, a, b) for (a, b), n in stats.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        negn, a, b = heapq.heappop(heap)
        cur = stats.get((a, b), 0)
        if -negn != cur:
            continue  # stale: a fresh entry for the live count exists
        if cur < min_pair_freq:
            break  # fresh top == global max — nothing frequent enough
        merges.append((a, b))

        touched: set[tuple[str, str]] = set()
        for i in list(index[(a, b)]):
            w = words[i]
            f = freqs[i]
            for p in zip(w, w[1:]):
                stats[p] -= f
                index[p].discard(i)
                touched.add(p)
            nw = _merge_syms(w, a, b)
            words[i] = nw
            for p in zip(nw, nw[1:]):
                stats[p] += f
                index[p].add(i)
                touched.add(p)
        for p in touched:
            n = stats.get(p, 0)
            if n > 0:
                heapq.heappush(heap, (-n, p[0], p[1]))
            else:
                stats.pop(p, None)
                index.pop(p, None)
    return merges


def collect_vocab(vocab: DataFrame) -> list[tuple[list[str], int]]:
    """Materialize a (syms array<string>, freq long) vocabulary frame to
    the driver for :func:`learn_merges_local` — the one collect of
    local-mode training. The frame is the UNIQUE-word histogram
    (Zipf-bounded), never the corpus."""
    return [(list(r["syms"]), int(r["freq"])) for r in vocab.collect()]


def learn_merges(
    vocab: DataFrame,
    num_merges: int,
    min_pair_freq: int = 2,
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """The BPE merge-learning loop over a (syms array<string>, freq long)
    vocabulary frame — shared by the character-level (:func:`bpe_train`)
    and byte-level (operators/bpe_bytes.py) trainers. Per iteration: one
    partial-agg exchange for adjacent-pair counts, a driver-side top-1
    (ties break (freq desc, a asc, b asc) — both engines' string order
    agrees for BMP code points), and one Arrow merge pass. Lineage is
    truncated by an eager stage barrier every ``checkpoint_every``
    merges rather than every merge (the round-9 MMR lesson): between
    checkpoints the pending plan carries at most ``checkpoint_every``
    stacked Arrow maps, each re-run once by the next pair-count action —
    cheaper than a materialization job per merge, while plan depth stays
    bounded in the merge count."""
    import pandas as pd

    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    vocab = stage_materialize(vocab)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs = (
            vocab.select(
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("a"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("b"),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < min_pair_freq:
            break
        a, b = pairs[0]["a"], pairs[0]["b"]
        merges.append((a, b))

        def apply_merge(
            batches: Iterator["pd.DataFrame"], a=a, b=b
        ) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "syms": [
                            _merge_syms(list(s), a, b) for s in pdf["syms"]
                        ],
                        "freq": pdf["freq"],
                    }
                )

        vocab = vocab.mapInPandas(apply_merge, "syms array<string>, freq long")
        if len(merges) % checkpoint_every == 0:
            vocab = stage_materialize(vocab)
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_pair_freq: int = 2,
    distributed: bool = False,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    ordered merge list. Stops early when no pair reaches
    ``min_pair_freq``.

    The histogram build is always distributed (one corpus shuffle).
    The merge loop runs on the driver by default over the collected
    Zipf-bounded word histogram (:func:`learn_merges_local` — constant
    Spark-job count regardless of vocabulary size); pass
    ``distributed=True`` to run each merge as a Spark iteration
    (:func:`learn_merges`) for corpora whose unique-word table
    genuinely cannot collect. Both modes produce a bit-identical merge
    list (property-tested)."""
    import pandas as pd

    def to_syms(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "syms": [list(w) + [END] for w in pdf["word"]],
                    "freq": pdf["freq"],
                }
            )

    vocab = _word_vocab(df, text_col).mapInPandas(
        to_syms, "syms array<string>, freq long"
    )
    if distributed:
        return learn_merges(vocab, num_merges, min_pair_freq)
    return learn_merges_local(collect_vocab(vocab), num_merges, min_pair_freq)


def bpe_segment_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Token statistics per document under a learned merge table:
    (doc_id, n_words, n_bpe_tokens).

    Merges apply to the batch's UNIQUE words (the vocab trick again —
    one Arrow pass over distinct words, a broadcast-sized merge list in
    the closure), then per-word token lengths join back to documents on
    the word: two exchanges total (distinct words; the docs-words join
    re-aggregation), independent of the merge count.
    """
    import pandas as pd

    words = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize(F.col(text_col))).alias("word"),
        )
        .where(F.col("word") != "")
    )
    uniq = words.select("word").distinct()

    def seg(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # rebuild the merge ranking once per task, not per word
        rank = {pair: i for i, pair in enumerate(merges)}

        def word_len(w: str) -> int:
            syms = list(w) + [END]
            while len(syms) > 1:
                best = None
                best_rank = len(rank)
                for i in range(len(syms) - 1):
                    r = rank.get((syms[i], syms[i + 1]), None)
                    if r is not None and r < best_rank:
                        best, best_rank = (syms[i], syms[i + 1]), r
                if best is None:
                    break
                syms = _merge_syms(syms, best[0], best[1])
            return len(syms)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_syms": [word_len(w) for w in pdf["word"]],
                }
            )

    lengths = uniq.mapInPandas(seg, "word string, n_syms int")
    return (
        words.join(F.broadcast(lengths), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
        )
    )


def bpe_alphabet(df: DataFrame, text_col: str) -> list[str]:
    """Sorted distinct characters of the corpus word stream (+ END) —
    the base symbol set id assignment starts from. Driver-sized by
    nature (a few hundred code points, aggregated distributively)."""
    rows = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
        .select(F.explode(F.split(F.col("word"), "")).alias("ch"))
        .where(F.col("ch") != "")
        .distinct()
        .collect()
    )
    return sorted({r["ch"] for r in rows} | {END})


def bpe_vocab(
    alphabet: list[str], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """token -> id: the sorted base alphabet first, then each merge's
    output in training order (skipping outputs two merge paths both
    produce) — the standard deterministic BPE id assignment."""
    vocab = {tok: i for i, tok in enumerate(alphabet)}
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    unk_id: int = -1,
) -> DataFrame:
    """Encode every document to its BPE token-id sequence:
    (doc_id, ids array<int>, n_tokens) — the step that feeds sequence
    packing (operators/packing.py) and sharded export.

    Same vocab trick as :func:`bpe_segment_counts`: the rank-greedy
    merge loop runs once per UNIQUE word (one Arrow pass, merge table +
    vocab in the closure), per-word id arrays join back to the
    positional word stream, and each document reassembles with ONE
    aggregation (sort_array over (pos, ids) structs, then flatten) —
    order-correct under any partitioning, no window needed. Symbols
    outside *vocab* (characters unseen at train time) encode as
    ``unk_id``.

    Scale: two exchanges (distinct words; the doc reassembly groupBy) —
    independent of merge count and document length. The unique-word
    frame is Zipf-small relative to the corpus; at 100 TB the
    words<->ids join is a plain shuffle join on ``word`` (skew-free:
    word frequency doesn't matter, only distinctness).
    """
    import pandas as pd

    words = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokenize(F.col(text_col))).alias("pos", "word"),
        )
        .where(F.col("word") != "")
    )
    uniq = words.select("word").distinct()
    rank = {pair: i for i, pair in enumerate(merges)}

    def enc(batches) -> "pd.DataFrame":
        def word_ids(w: str) -> list[int]:
            syms = list(w) + [END]
            while len(syms) > 1:
                best = None
                best_rank = len(rank)
                for i in range(len(syms) - 1):
                    r = rank.get((syms[i], syms[i + 1]), None)
                    if r is not None and r < best_rank:
                        best, best_rank = (syms[i], syms[i + 1]), r
                if best is None:
                    break
                syms = _merge_syms(syms, best[0], best[1])
            return [vocab.get(s, unk_id) for s in syms]

        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "ids": [word_ids(w) for w in pdf["word"]],
                }
            )

    encoded = uniq.mapInPandas(enc, "word string, ids array<int>")
    assembled = (
        words.join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "ids"))
                    ),
                    lambda s: s["ids"],
                )
            ).alias("ids")
        )
    )
    # every input document gets a verdict — a doc that tokenizes to zero
    # words (empty / punctuation-only text) encodes as ids=[], not as a
    # silently missing row (callers zip output back to the corpus)
    all_docs = df.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        all_docs.join(assembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("ids"), F.array().cast("array<int>")).alias(
                "ids"
            ),
        )
        .withColumn("n_tokens", F.size("ids"))
    )
