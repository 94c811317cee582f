"""Registry entries: text analysis over `documents` (X4) — token stats,
quality and repetition rules, language ID, tokenizers (BPE, WordPiece,
unigram), LM scoring (bigram, Kneser-Ney, CCNet buckets), keywords,
chunking, importance resampling (DSIR) and SFT formatting.

Each oracle replicates the deterministic algorithm in DuckDB SQL with the
same integer/left-fold arithmetic (see operators/textstats.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, replay, table
from whisper_pandas_spark.functions.hashing import (
    HASH_HEX_CHARS,
    duck_md5_int,
    seeded_hash64,
)
from whisper_pandas_spark.functions.text import DUCK_TOKS
from whisper_pandas_spark.operators.textstats import (
    GATE_MAX_DUP,
    GATE_MIN_QUALITY,
    LANG_PROFILES,
    STOPWORDS,
    fingerprints,
    lang_id,
    quality_score,
    token_stats,
)
from whisper_pandas_spark.stage import stage_materialize


@register(
    "text_token_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, text, {DUCK_TOKS} AS t FROM documents
)
SELECT doc_id,
  length(text) AS n_chars,
  len(t) AS n_tokens,
  len(list_distinct(t)) AS n_distinct_tokens,
  round(list_reduce(list_prepend(0.0, list_transform(t, x -> length(x)::DOUBLE)),
        (a, b) -> a + b) / len(t), 6) AS mean_token_len
FROM toks ORDER BY doc_id
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-doc token/char statistics — single narrow projection."""
    return token_stats(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


@register(
    "text_bpe_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+'
       )) AS BIGINT) AS n_bpe
FROM documents WHERE text IS NOT NULL ORDER BY doc_id
""",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BPE-ish pre-token counts (operators/textstats.py:BPE_REGEX) —
    the token-budget estimator. The regex stays inside the Java∩RE2
    subset so both engines tokenize identically."""
    from whisper_pandas_spark.operators.textstats import bpe_token_count

    return bpe_token_count(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, {DUCK_TOKS} AS t,
    length(text) AS n_chars,
    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
  FROM documents
), ratios AS (
  SELECT doc_id,
    punct::DOUBLE / n_chars AS punct_ratio,
    len(list_filter(t, x -> x IN ({stop_list})))::DOUBLE / len(t) AS stop_ratio,
    CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END AS length_ok
  FROM base
)
SELECT doc_id,
  round(punct_ratio, 6) AS punct_ratio,
  round(stop_ratio, 6) AS stop_ratio,
  round(0.4 * length_ok + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
        + 0.3 * least(stop_ratio * 10, 1.0), 6) AS quality
FROM ratios ORDER BY doc_id
"""


@register("text_quality", oracle=_quality_oracle())
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: composite quality score (length gate, punctuation ratio,
    stopword ratio) — the pre-training corpus filter, pure codegen."""
    return quality_score(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


_DUCK_RAW_SHINGLES = (
    "list_transform(range(1, greatest(len(t)-2, 0)+1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


@register(
    "text_repetition",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, {_DUCK_RAW_SHINGLES} AS s FROM toks
)
SELECT doc_id, len(s) AS n_shingles, len(list_distinct(s)) AS n_distinct,
       round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) AS dup_ratio
FROM sh WHERE len(s) > 0 ORDER BY doc_id
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Gopher-style intra-doc repetition (repeated word 3-gram
    fraction) — the quality signal near-dup detection can't provide
    (generated/boilerplate text repeats itself before it duplicates
    another doc). Shingle MULTISET, duplicates kept."""
    from whisper_pandas_spark.operators.textstats import repetition_stats

    return repetition_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


def _gate_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, lang, text, {DUCK_TOKS} AS t,
    length(text) AS n_chars,
    length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct
  FROM documents
), scored AS (
  SELECT doc_id, lang,
    round(0.4 * (CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.0 END)
      + 0.3 * (1.0 - least(punct::DOUBLE / n_chars * 5, 1.0))
      + 0.3 * least(len(list_filter(t, x -> x IN ({stop_list})))::DOUBLE
                    / len(t) * 10, 1.0), 6) AS quality,
    {_DUCK_RAW_SHINGLES} AS s
  FROM base
)
SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM scored
WHERE quality >= {GATE_MIN_QUALITY} AND len(s) > 0
  AND round(1.0 - len(list_distinct(s))::DOUBLE / len(s), 6) <= {GATE_MAX_DUP}
GROUP BY lang ORDER BY lang
"""


@register("filter_quality_gates", oracle=_gate_oracle())
def filter_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus filter itself (quality floor + repetition ceiling),
    fused into ONE scan — zero shuffles before the summary groupBy.
    Summarized per lang so the check covers the kept-set membership."""
    from whisper_pandas_spark.operators.textstats import quality_gate_filter

    kept = quality_gate_filter(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        min_quality=GATE_MIN_QUALITY, max_dup_ratio=GATE_MAX_DUP,
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("sum_ids"))
        .orderBy("lang")
    )


def _lang_oracle() -> str:
    def score(bgs: list[str]) -> str:
        terms = " + ".join(
            f"(length(low) - length(replace(low, '{bg}', ''))) / 2" for bg in bgs
        )
        return f"({terms})::INT"

    score_cols = ",\n    ".join(
        f"{score(bgs)} AS s_{lang}" for lang, bgs in LANG_PROFILES
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang, _ in LANG_PROFILES) + ")"
    case = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang, _ in LANG_PROFILES
    )
    return f"""
WITH low AS (
  SELECT doc_id, lower(text) AS low FROM documents
), scores AS (
  SELECT doc_id,
    {score_cols}
  FROM low
), ranked AS (
  SELECT doc_id, {best} AS best, * FROM scores
)
SELECT doc_id, CASE {case} END AS pred_lang, best AS lang_score
FROM ranked ORDER BY doc_id
"""


@register("text_lang_id", oracle=_lang_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: character-bigram language ID — per-row closed form, no UDF,
    deterministic argmax tie-break by profile order."""
    return lang_id(table(spark, sf_dir, "documents"), "doc_id", "text").orderBy(
        "doc_id"
    )


@register(
    "text_fingerprints",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
)
SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bow_fp,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(t, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT)),
    (acc, h) -> (acc * 31 + h) & {(1 << 55) - 1}
  ) AS roll_fp
FROM toks ORDER BY doc_id
""",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: bag-of-words md5 fingerprint + order-sensitive 55-bit rolling
    polynomial hash (masked so acc*31+h never overflows BIGINT on either
    engine — DuckDB raises on overflow, the JVM silently wraps)."""
    return fingerprints(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


BM25_TERMS = ["spark", "join", "vector", "stream"]
BM25_TOPK = 20


def _bm25_oracle() -> str:
    from whisper_pandas_spark.operators.textrank import B, K1

    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    contrib = (
        f"ln((n_docs - dfq + 0.5) / (dfq + 0.5) + 1.0)"
        f" * (tf * {K1 + 1.0!r})"
        f" / (tf + {K1!r} * ({1.0 - B!r} + {B!r} * dl / (CAST(total_len AS DOUBLE) / n_docs)))"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
), stats AS (
  SELECT count(*) AS n_docs, sum(len(t)) AS total_len FROM toks
), exploded AS (
  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
), pairs AS (
  SELECT * FROM exploded WHERE term IN ({terms})
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM pairs GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, count(*) AS dfq FROM tf GROUP BY term
), scored AS (
  SELECT doc_id, count(*) AS n_terms,
         round(CAST(sum(CAST({contrib} AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY doc_id
), ranked AS (
  SELECT doc_id, n_terms, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, n_terms, score, rnk FROM ranked
WHERE rnk <= {BM25_TOPK} ORDER BY rnk
"""


@register("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: BM25 lexical retrieval (operators/textrank.py) — top-20 docs
    against a fixed term query. Query-term filter lands BEFORE any
    shuffle, df/stats broadcast, DECIMAL(38,12) score fold so the result
    is partition-order independent, sort-limit compiles to
    TakeOrderedAndProject."""
    from whisper_pandas_spark.operators.textrank import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"), BM25_TERMS, BM25_TOPK
    ).orderBy("rnk")


# -- PII redaction (round 5) ----------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\+\d{1,3}[- ]\d{3}[- ]\d{4}"


@register(
    "text_pii_redact",
    oracle=f"""
WITH pii AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
         || '.0.7 call +1 555 01'
         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
    regexp_replace(regexp_replace(regexp_replace(t,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IPV4}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g') AS clean
  FROM pii
)
SELECT doc_id, md5(clean) AS clean_md5,
  CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones
FROM red ORDER BY doc_id
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: PII redaction (operators/redact.py) — emails / IPv4 / phones
    counted on the original text then redacted sequentially; the oracle
    applies the LITERAL same Java∩RE2 patterns in the same order.

    The corpus is synthetic, so each doc gets a deterministic PII suffix
    derived from its doc_id (same concat on both engines) — every row
    then provably exercises all three pattern classes; md5(clean_text)
    value-checks the redacted bytes without shipping 500 full texts.

    Scale: scan-shaped codegen regex pass — zero shuffles, zero Python.
    """
    from whisper_pandas_spark.operators.redact import pii_redact

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.7 call +1 555 01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    out = pii_redact(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_emails",
        "n_ipv4",
        "n_phones",
    ).orderBy("doc_id")


# Unigram tokenizer entry: frozen seed-recipe vocabulary + Viterbi encode.
# Round-7 restructure (VERDICT r6 "Next round" #3): the EM-trained variant
# was the registry's only rows-only entry — EM over segmentation lattices
# is genuinely non-SQL, but BOTH the seed-vocabulary recipe (all chars +
# top-K substrings by corpus frequency, log-relative-frequency probs) and
# Viterbi segmentation are deterministic and DuckDB-replayable, so this
# entry freezes the vocab at the seed stage and hash-checks the encode
# half end-to-end. EM training (unigram_train) keeps its value-level
# verification in tests/test_unigram.py (learned-piece segmentation,
# round-trips, repartition determinism), like BPE-encode / the WebDataset
# writer.
_U_MAX_PIECE = 6
_U_TOPK = 64  # multi-char pieces kept in the frozen vocabulary
_U_MAX_WORD = 64  # operators/unigram.py _MAX_WORD (lattice cost cap)


def _frozen_unigram_vocab(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(piece, logp): all corpus characters + the top ``_U_TOPK``
    multi-char substrings by frequency (ties: piece asc), with
    ``logp = ln(cnt / total)`` over the kept pieces — exactly
    unigram_train's seed stage with no EM sweeps. The log runs through
    Python's libm (driver-side, vocab-sized collect) so DuckDB's ``ln``
    reproduces it bit-for-bit; the Viterbi DP then performs identical
    addition sequences on both sides."""
    import math

    from whisper_pandas_spark.operators.bpe_train import _word_vocab
    from whisper_pandas_spark.operators.unigram import _seed_vocab, vocab_frame

    seed = _seed_vocab(
        _word_vocab(docs, "text"), _U_MAX_PIECE, _U_TOPK
    ).collect()
    total = float(sum(r["cnt"] for r in seed))
    rows = sorted((r["piece"], math.log(r["cnt"] / total)) for r in seed)
    return vocab_frame(spark, rows)


_UNIGRAM_ORACLE = f"""
WITH RECURSIVE words_ne AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest({DUCK_TOKS}) AS word FROM documents
  ) WHERE word <> ''
), wf AS (
  SELECT substring(word, 1, {_U_MAX_WORD}) AS w, count(*) AS freq
  FROM words_ne GROUP BY 1
), subs AS (
  SELECT piece, sum(freq) AS cnt FROM (
    SELECT unnest(flatten(list_transform(range(1, length(w) + 1),
             i -> list_transform(
                    range(1, least({_U_MAX_PIECE}, length(w) - i + 1) + 1),
                    l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece,
           freq
    FROM wf
  ) GROUP BY piece
), vocab AS (
  SELECT piece, cnt FROM subs WHERE length(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM subs WHERE length(piece) > 1
    ORDER BY cnt DESC, piece LIMIT {_U_TOPK}
  )
), vmap AS (
  SELECT map(list(piece ORDER BY piece),
             list(ln(cnt * 1.0 / (SELECT sum(cnt) FROM vocab))
                  ORDER BY piece)) AS m
  FROM vocab
), uw AS (
  SELECT DISTINCT word FROM words_ne
), wprep AS (
  SELECT word, substring(word, 1, {_U_MAX_WORD}) AS w,
         length(substring(word, 1, {_U_MAX_WORD})) AS n
  FROM uw
), vit AS (
  -- lattice DP, one iteration per character position; best[p+1] is the
  -- max log-prob of segmenting w[0:p] (NULL = unreachable), ntok the
  -- piece count along the argmax path; ties pick the smallest start j
  -- (longest last piece) via list_position's first-match, mirroring
  -- operators/unigram.py _viterbi
  SELECT word, w, n, 0 AS i, [0.0]::DOUBLE[] AS best, [0]::BIGINT[] AS ntok
  FROM wprep
  UNION ALL
  SELECT word, w, n, i + 1, best || [sc.mx],
         ntok || [CASE WHEN sc.mx IS NOT NULL
                       THEN ntok[CAST(greatest(i + 1 - {_U_MAX_PIECE}, 0)
                                      AS INT) + list_position(sc.cand, sc.mx)]
                            + 1 END]
  FROM (
    SELECT vit.*,
      list_transform(
        range(CAST(greatest(i + 1 - {_U_MAX_PIECE}, 0) AS BIGINT),
              CAST(i + 1 AS BIGINT)),
        j -> best[CAST(j AS INT) + 1]
             + m[substr(w, CAST(j AS INT) + 1, CAST(i + 1 - j AS INT))][1]
      ) AS cand
    FROM vit, vmap WHERE i < n
  ) s
  CROSS JOIN LATERAL (
    SELECT list_aggregate(s.cand, 'max') AS mx, s.cand AS cand
  ) sc
), seg AS (
  SELECT word, CASE WHEN best[n + 1] IS NOT NULL THEN ntok[n + 1] END AS nt
  FROM vit WHERE i = n
)
SELECT w0.doc_id,
       count(*) AS n_words,
       CAST(coalesce(sum(CASE WHEN s.nt IS NOT NULL THEN s.nt ELSE 0 END), 0)
            AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN s.nt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unseg
FROM words_ne w0 JOIN seg s USING (word)
GROUP BY w0.doc_id ORDER BY w0.doc_id
"""


@register("text_unigram_tokenize", oracle=_UNIGRAM_ORACLE)
def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+/Y53: unigram-LM tokenizer encode half (operators/unigram.py)
    under the frozen seed-recipe vocabulary — per-document word / token /
    unsegmentable counts from Viterbi segmentation, with the vocab
    broadcast into one Arrow pass over the UNIQUE words. The DuckDB
    oracle replays vocabulary construction (substring explosion + top-K)
    AND the Viterbi lattice DP (recursive CTE, one iteration per
    character position) value-exactly; EM training stays pytest-verified
    (tests/test_unigram.py)."""
    from whisper_pandas_spark.operators.unigram import unigram_token_count

    docs = table(spark, sf_dir, "documents")
    vocab = _frozen_unigram_vocab(spark, docs)
    return unigram_token_count(
        docs, "doc_id", "text", vocab, _U_MAX_PIECE
    ).orderBy("doc_id")


@register(
    "text_readability",
    oracle="""
WITH c AS (
  SELECT doc_id,
         greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS y
  FROM documents
)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       round(206.835 - 1.015 * (w / (s * 1.0)) - 84.6 * (y / (w * 1.0))
             + 1e-9, 4) AS flesch
FROM c ORDER BY doc_id
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: Flesch reading-ease scoring — the classic readability gate
    (public formula, 1948): 206.835 - 1.015*(words/sentences) -
    84.6*(syllables/words), with syllables approximated by vowel-group
    runs (the standard heuristic when no dictionary is allowed). All
    three counts are exact regexp_count integers, the formula is one
    deterministic double expression mirrored by the oracle, and
    everything is codegen — one scan, zero Python."""
    docs = table(spark, sf_dir, "documents")
    w = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+")), F.lit(1)
    )
    s = F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1))
    y = F.greatest(
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")), F.lit(1)
    )
    out = docs.select(
        "doc_id",
        w.cast("bigint").alias("n_words"),
        s.cast("bigint").alias("n_sentences"),
        y.cast("bigint").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / (F.col("n_sentences") * F.lit(1.0)))
        - F.lit(84.6) * (F.col("n_syllables") / (F.col("n_words") * F.lit(1.0)))
        + F.lit(1e-9)
    )
    return out.withColumn("flesch", F.round(flesch, 4)).orderBy("doc_id")


# -- bigram LM quality scoring ---------------------------------------------

_DUCK_TOKS_LM = (
    "regexp_split_to_array(trim(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g')), ' ')"
)


@register(
    "text_lm_bigram_score",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKS_LM} AS t FROM documents
), big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM big GROUP BY w1
), vocab AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)
), scored AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(
           (sum(CAST(ln((c12 + 1.0) / (c1 + v)) AS DECIMAL(38,12)))::DOUBLE)
           / count(*), 6) AS lm_score
  FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
  GROUP BY doc_id
)
SELECT toks.doc_id,
       coalesce(scored.n_bigrams, 0) AS n_bigrams,
       scored.lm_score
FROM toks LEFT JOIN scored ON toks.doc_id = scored.doc_id
ORDER BY toks.doc_id
""",
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: add-one bigram LM self-scoring (operators/lm.py) — the
    CCNet-style corpus-typicality signal as pure relational algebra.
    DECIMAL(38,12) log-prob fold -> partition-order-independent scores;
    the oracle replays the identical counts, smoothing, and fold."""
    from whisper_pandas_spark.operators.lm import bigram_lm_score

    docs = table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, "doc_id", "text").orderBy("doc_id")


# -- TF-IDF keyword extraction ---------------------------------------------


@register(
    "text_tfidf_topk",
    """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(regexp_replace(lower(text),
           '[^a-z0-9]+', ' ', 'g')), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE term != '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln((CAST((SELECT n_docs FROM n) AS DOUBLE) + 1)
                          / (dfreq.df + 1)), 6) AS score
  FROM tf JOIN dfreq USING (term) WHERE dfreq.df >= 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score, rnk
FROM ranked WHERE rnk <= 5
ORDER BY doc_id, rnk
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: per-document TF-IDF keywords
    (operators/textrank.py:tfidf_top_terms) — top-5 terms by smoothed
    tf*idf, min_df=2, WindowGroupLimit top-k; the labeling/search
    companion to BM25 over the same tokenize family."""
    from whisper_pandas_spark.operators.textrank import tfidf_top_terms

    docs = table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=5, min_df=2).orderBy(
        "doc_id", "rnk"
    )


# -- in-engine trainable quality classifier ----------------------------------

_CLF_ITERS = 6
_CLF_LR = 1.0
_CLF_FEATS_CTE = """feats AS (
  SELECT doc_id,
         n_chars / 400.0 AS x0,
         (length(text) - length(replace(text, ' ', ''))) / length(text) AS x1,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
)"""


def _clf_oracle() -> str:
    from whisper_pandas_spark.operators.classifier import training_replay_sql

    chain = training_replay_sql(
        _CLF_FEATS_CTE, ["x0", "x1"], "y", _CLF_ITERS, _CLF_LR
    )
    m = "w.w0 * f.x0 + w.w1 * f.x1 + w.wb"
    p = f"(0.5 * (1.0 + ({m}) / (1.0 + abs({m}))))"
    return f"""{chain}
SELECT f.doc_id,
       round(({m}) + 1e-9, 6) AS margin,
       round({p} + 1e-9, 6) AS prob,
       ({m}) >= 0 AS pred,
       f.y AS label
FROM feats f CROSS JOIN w{_CLF_ITERS}_ w
ORDER BY f.doc_id
"""


@register("text_quality_classifier", _clf_oracle())
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: the in-engine TRAINABLE quality gate
    (operators/classifier.py) — a softsign-link linear classifier fit
    by full-batch gradient descent on two codegen features (length
    ratio, space ratio) against an is-English label, then scored over
    the corpus. The oracle replays the ENTIRE training trajectory in
    unrolled SQL CTEs (the k-means/PQ recipe): softsign avoids exp's
    cross-libm last-ulp drift, gradient sums fold through DECIMAL, and
    the margin's addition order is part of the contract — so weights,
    margins, and probabilities agree bit-for-bit."""
    from whisper_pandas_spark.operators.classifier import (
        logreg_score,
        logreg_train,
    )

    docs = table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        (F.col("n_chars") / F.lit(400.0)).alias("x0"),
        (
            (F.length("text") - F.length(F.expr("replace(text, ' ', '')")))
            / F.length("text")
        ).alias("x1"),
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias(
            "y"
        ),
    )
    w = logreg_train(feats, ["x0", "x1"], "y", iters=_CLF_ITERS, lr=_CLF_LR)
    scored = logreg_score(feats, w, ["x0", "x1"])
    eps = F.lit(1e-9)
    return scored.select(
        "doc_id",
        F.round(F.col("margin") + eps, 6).alias("margin"),
        F.round(F.col("prob") + eps, 6).alias("prob"),
        "pred",
        F.col("y").alias("label"),
    ).orderBy("doc_id")


# -- bigram collocation mining -------------------------------------------------


@register(
    "text_collocations_lift",
    oracle="""
WITH arr AS (
  SELECT list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
           '[^a-z0-9]+', ' ', 'g')), ' '), x -> x != '') AS t
  FROM documents
), tok AS (SELECT unnest(t) AS w FROM arr),
uni AS (SELECT w, count(*) AS n_w FROM tok GROUP BY w),
tot AS (SELECT count(*) AS n_total FROM tok),
big AS (
  SELECT p[1] AS w1, p[2] AS w2
  FROM (SELECT unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS p
        FROM arr WHERE len(t) >= 2)
), bc AS (
  SELECT w1, w2, count(*) AS n_ab FROM big GROUP BY 1, 2
  HAVING count(*) >= 5
)
SELECT bc.w1, bc.w2, CAST(bc.n_ab AS BIGINT) AS n_ab,
       CAST(u1.n_w AS BIGINT) AS n_a, CAST(u2.n_w AS BIGINT) AS n_b,
       CAST(tot.n_total AS BIGINT) AS n_total,
       CAST(bc.n_ab * tot.n_total AS DOUBLE)
         / CAST(u1.n_w * u2.n_w AS DOUBLE) AS lift
FROM bc JOIN uni u1 ON u1.w = bc.w1 JOIN uni u2 ON u2.w = bc.w2
CROSS JOIN tot
ORDER BY lift DESC, n_ab DESC, w1, w2
LIMIT 50
""",
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: corpus phrase mining (operators/collocations.py:
    collocation_lift) — top-50 adjacent token pairs by lift = exp(PMI)
    (Church & Hanks 1990 association; word2vec's phrase-detection
    pass). Bigrams come from per-row array zips (no self-join);
    both aggregations are vocabulary-sized; the score is one IEEE
    division of exact integer products, so no log-parity risk."""
    from whisper_pandas_spark.operators.collocations import collocation_lift

    docs = table(spark, sf_dir, "documents")
    return collocation_lift(docs, "text", min_count=5, k=50)


# -- trained Cavnar–Trenkle language ID ---------------------------------------

_CT_NS = (2, 3)
_CT_K = 40


def _ct_oracle() -> str:
    ns_values = ", ".join(f"({n})" for n in _CT_NS)
    return f"""
WITH norm AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, substr(t, i.i, ns.n) AS g
  FROM norm, (VALUES {ns_values}) ns(n),
       LATERAL (SELECT unnest(generate_series(1, length(t) - ns.n + 1)) AS i) i
),
lang_prof AS (
  SELECT lang, g, lr FROM (
    SELECT lang, g, count(*) AS c,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, g) AS lr
    FROM grams GROUP BY lang, g
  ) WHERE lr <= {_CT_K}
),
doc_prof AS (
  SELECT doc_id, g, dr FROM (
    SELECT doc_id, g, count(*) AS c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, g) AS dr
    FROM grams GROUP BY doc_id, g
  ) WHERE dr <= {_CT_K}
),
doc_n AS (SELECT doc_id, count(*) AS nd FROM doc_prof GROUP BY doc_id),
-- candidate languages come from the TRAINED profiles (as the operator's
-- classify_language does), not from the raw labels: a language whose
-- every document is shorter than min(ns) has no profile and is never
-- predicted
langs AS (SELECT DISTINCT lang FROM lang_prof),
matched AS (
  SELECT d.doc_id, p.lang, count(*) AS m,
         CAST(sum(abs(d.dr - p.lr)) AS BIGINT) AS s
  FROM doc_prof d JOIN lang_prof p ON d.g = p.g
  GROUP BY 1, 2
),
dist AS (
  SELECT dn.doc_id, l.lang,
         coalesce(m.s, 0) + (dn.nd - coalesce(m.m, 0)) * {_CT_K} AS lang_dist
  FROM doc_n dn CROSS JOIN langs l
  LEFT JOIN matched m ON m.doc_id = dn.doc_id AND m.lang = l.lang
)
SELECT doc_id, lang AS pred_lang, lang_dist FROM (
  SELECT doc_id, lang, lang_dist,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY lang_dist, lang) AS rn
  FROM dist
) WHERE rn = 1 ORDER BY doc_id
"""


@register("text_lang_id_trained", oracle=_ct_oracle())
def text_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: TRAINED Cavnar–Trenkle language ID (1994) — top-40 char-2/3-gram
    rank profiles trained per language from the corpus's own labels, then
    out-of-place rank distance classifies every document (penalty = profile
    size for absent n-grams, ties to the smallest language).  The in-engine
    counterpart of the fixed-profile ``text_lang_id`` heuristic; all-integer
    arithmetic so the oracle replays the argmin bit-for-bit.  Profiles are
    L x 40 rows at ANY corpus size — broadcast; the corpus shuffles only on
    (doc, ngram) for its own profile build."""
    from whisper_pandas_spark.operators.langid import train_and_classify

    docs = table(spark, sf_dir, "documents")
    return train_and_classify(
        docs, "doc_id", "lang", "text", ns=_CT_NS, k=_CT_K
    ).orderBy("doc_id")


# -- RAG chunking -------------------------------------------------------------

_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48


def _rag_oracle() -> str:
    # Explicit ASCII whitespace class, kept in sync with
    # operators/chunking.py WS_SPLIT_RE/WS_TRIM_RE: Java \\s includes
    # \\x0B while RE2's does not, and trim() strips only 0x20 — the
    # spelled-out class + regex trim is what makes both engines
    # tokenize identically (including tab-leading text).
    ws_cls = "[ \\t\\n\\r\\f\\x0B]+"
    ws_trim = f"^{ws_cls}|{ws_cls}$"
    s, t = _CHUNK_SIZE, _CHUNK_STRIDE
    return f"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(text, '{ws_trim}', '', 'g'), '{ws_cls}') AS ws
  FROM documents
  WHERE length(regexp_replace(text, '{ws_trim}', '', 'g')) > 0
),
c AS (
  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
         CASE WHEN len(ws) <= {s} THEN 1
              ELSE 1 + (len(ws) - {s} + {t} - 1) // {t} END AS nch
  FROM w
),
g AS (
  SELECT doc_id, ws, n_words,
         unnest(generate_series(0, nch - 1)) AS i
  FROM c
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx, n_words,
       CAST(least({s}, n_words - i * {t}) AS INT) AS n_chunk_words,
       array_to_string(list_slice(ws, i * {t} + 1, i * {t} + {s}), ' ')
         AS chunk_text
FROM g
ORDER BY doc_id, chunk_idx
"""


@register("text_rag_chunks", oracle=_rag_oracle())
def text_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: retrieval/context-window chunking (operators/chunking.py:
    rag_chunks) — every document split into {size}-word windows every
    {stride} words (1/4 overlap), with the document word count and the
    (possibly short) final-window length carried per chunk.  Chunk
    identity is (doc_id, chunk_idx): deterministic, append-stable, and
    replayable — which is what makes downstream embedding tables
    idempotently re-buildable.  Plan: one scan + one generator
    (posexplode of a sequence), pure whole-stage codegen (no lambda
    HOFs — the round-8 CodegenFallback lesson), ZERO shuffles before
    the presentation sort.  Scale: output bytes are ~(size/stride)x
    the corpus and each task fans out locally; nothing is keyed, so
    there is no skew surface at all."""
    from whisper_pandas_spark.operators.chunking import rag_chunks

    docs = table(spark, sf_dir, "documents")
    return rag_chunks(
        docs, "text", ("doc_id",), size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


# -- RAKE keyword extraction ---------------------------------------------------

_RAKE_TOPN = 25


def _rake_oracle() -> str:

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    dec = "DECIMAL(12,0)"
    picks = []
    for p in (1, 2, 3):
        picks.append(
            f"max(CASE WHEN wpos = {p} THEN CAST(freq AS {dec}) END) AS f{p},"
            f"\n    max(CASE WHEN wpos = {p} THEN CAST(deg AS {dec}) END)"
            f" AS d{p}"
        )
    pick_sql = ",\n    ".join(picks)
    return f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
),
pt AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS g(i)
  WHERE t[i] != ''
),
ns AS (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM pt WHERE tok NOT IN ({stops})
),
isl AS (
  SELECT doc_id, pos, tok, g,
         count(*) OVER (PARTITION BY doc_id, g) AS plen
  FROM ns
),
cand AS (SELECT * FROM isl WHERE plen <= 3),
ws AS (SELECT tok, count(*) AS freq, sum(plen) AS deg FROM cand GROUP BY tok),
occ AS (
  SELECT doc_id, g, plen, string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM cand GROUP BY doc_id, g, plen
),
ph AS (
  SELECT phrase, plen, count(*) AS occurrences FROM occ GROUP BY phrase, plen
),
pw AS (
  SELECT phrase, plen, occurrences, i AS wpos,
         string_split(phrase, ' ')[i] AS wtok
  FROM ph, unnest(generate_series(1, plen)) AS gg(i)
),
pv AS (
  SELECT phrase, plen, occurrences,
    {pick_sql}
  FROM pw JOIN ws ON ws.tok = pw.wtok
  GROUP BY phrase, plen, occurrences
)
SELECT phrase, CAST(plen AS INT) AS n_words,
       CAST(occurrences AS BIGINT) AS occurrences,
       CAST(d1 * coalesce(f2, 1) * coalesce(f3, 1)
            + coalesce(d2, 0) * f1 * coalesce(f3, 1)
            + coalesce(d3, 0) * f1 * coalesce(f2, 1) AS DOUBLE)
       / CAST(f1 * coalesce(f2, 1) * coalesce(f3, 1) AS DOUBLE) AS score
FROM pv
ORDER BY score DESC, phrase
LIMIT {_RAKE_TOPN}
"""


@register("text_rake_keywords", oracle=_rake_oracle())
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: RAKE keyword extraction (operators/rake.py:rake_keywords,
    Rose et al. 2010) — candidate phrases are stopword-delimited token
    islands (the same gaps-and-islands key as window_gaps_islands, on
    token positions), word score = deg/freq over candidate occurrences,
    phrase score = Σ word scores computed as ONE exact rational
    (DECIMAL positional pivot, single IEEE division) so the ranking
    replays bit-for-bit — a naive float sum would be partition-order
    dependent.  Top-{n} corpus keywords.  Scale: one per-doc window
    pass over tokens; every later aggregation is vocabulary- or
    phrase-bounded with map-side combine; word stats join back
    broadcast."""
    from whisper_pandas_spark.operators.rake import rake_keywords

    docs = table(spark, sf_dir, "documents")
    return rake_keywords(docs, "text", "doc_id", top_n=_RAKE_TOPN)


def _rep_oracle() -> str:
    from whisper_pandas_spark.operators.repetition import (
        BULLET_LINE_MAX,
        ELLIPSIS_LINE_MAX,
        SYMBOL_WORD_MAX,
        TOP_SHARE_MAX,
    )

    def duck_shingle_distinct(n: int) -> str:
        join = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        return (
            f"len(list_distinct(list_transform("
            f"range(1, greatest(len(t)-{n - 1}, 0)+1), i -> {join})))"
        )

    def duck_grams(n: int) -> str:
        join = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
        return f"""
    SELECT doc_id, {n} AS n, {join} AS gram
    FROM (SELECT doc_id, t,
                 unnest(range(1, greatest(len(t)-{n - 1}, 0)+1)) AS i
          FROM toks)"""

    dup_cols = ",\n  ".join(
        f"round(CASE WHEN total{n} > 0 THEN (total{n} - dist{n})::DOUBLE"
        f" / total{n} END, 6) AS dup{n}_share"
        for n in (2, 3, 4)
    )
    top_cols = ",\n  ".join(
        f"round(CASE WHEN total{n} > 0 THEN top{n}_cnt::DOUBLE"
        f" / total{n} END, 6) AS top{n}_share"
        for n in (2, 3, 4)
    )
    gate_terms = [
        f"coalesce(round(CASE WHEN total{n} > 0 THEN top{n}_cnt::DOUBLE"
        f" / total{n} END, 6), 0.0) <= {TOP_SHARE_MAX[n]}"
        for n in (2, 3, 4)
    ] + [
        "coalesce(round(CASE WHEN n_words > 0 THEN symbol_cnt::DOUBLE"
        f" / n_words END, 6), 0.0) <= {SYMBOL_WORD_MAX}",
        "coalesce(round(CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE"
        f" / n_lines END, 6), 0.0) <= {BULLET_LINE_MAX}",
        "coalesce(round(CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE"
        f" / n_lines END, 6), 0.0) <= {ELLIPSIS_LINE_MAX}",
    ]
    gate = "\n    AND ".join(gate_terms)
    # No regex anchors: bullet/ellipsis lines count \n-delimited patterns
    # on text with a sentinel newline prepended/appended — Java and RE2
    # disagree on multiline ^/$ around \r\n, plain \n literals don't.
    return f"""
WITH toks AS (
  SELECT doc_id, text, {DUCK_TOKS} AS t FROM documents
),
scal AS (
  SELECT doc_id,
    CAST(len(t) AS BIGINT) AS n_words,
    CAST(length(text) - length(replace(text, chr(10), '')) + 1 AS BIGINT)
      AS n_lines,
    CAST(len(regexp_extract_all(chr(10) || text, '\\n[ \\t]*[-*\u2022]'))
      AS BIGINT) AS bullet_lines,
    CAST(len(regexp_extract_all(text || chr(10),
      '(\\.\\.\\.|\u2026)[ \\t\\r]*\\n')) AS BIGINT) AS ellipsis_lines,
    CAST(length(text) - length(replace(text, '#', ''))
      + len(regexp_extract_all(text, '\\.\\.\\.'))
      + length(text) - length(replace(text, '\u2026', '')) AS BIGINT)
      AS symbol_cnt,
    CAST(greatest(len(t)-1, 0) AS BIGINT) AS total2,
    CAST(greatest(len(t)-2, 0) AS BIGINT) AS total3,
    CAST(greatest(len(t)-3, 0) AS BIGINT) AS total4,
    CAST({duck_shingle_distinct(2)} AS BIGINT) AS dist2,
    CAST({duck_shingle_distinct(3)} AS BIGINT) AS dist3,
    CAST({duck_shingle_distinct(4)} AS BIGINT) AS dist4
  FROM toks
),
grams AS ({duck_grams(2)}
  UNION ALL{duck_grams(3)}
  UNION ALL{duck_grams(4)}
),
tops AS (
  SELECT doc_id,
    max(CASE WHEN n = 2 THEN cnt END) AS top2_cnt,
    max(CASE WHEN n = 3 THEN cnt END) AS top3_cnt,
    max(CASE WHEN n = 4 THEN cnt END) AS top4_cnt
  FROM (SELECT doc_id, n, gram, count(*) AS cnt FROM grams
        GROUP BY doc_id, n, gram)
  GROUP BY doc_id
)
SELECT doc_id, n_words, n_lines,
  {dup_cols},
  {top_cols},
  round(CASE WHEN n_words > 0 THEN symbol_cnt::DOUBLE / n_words END, 6)
    AS symbol_word_ratio,
  round(CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines END, 6)
    AS bullet_line_frac,
  round(CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines END, 6)
    AS ellipsis_line_frac,
  ({gate}) AS pass_repetition
FROM scal LEFT JOIN tops USING (doc_id)
ORDER BY doc_id
"""


# -- byte-level BPE ------------------------------------------------------------

_BPE_BYTES_MERGES = 16
_BPE_BYTES_MIN_FREQ = 2

# BPE_REGEX as a DuckDB string literal ('' = escaped quote) — the same
# Java∩RE2 pattern text_bpe_token_count already oracles with.
_DUCK_BPE_RE = (
    "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s'']+'"
)

# UTF-8 byte expansion + the GPT-2 byte→unicode stand-in table, as one
# DuckDB list expression over a word (mirrors operators/bpe_bytes.py:
# pretoken_syms exactly — printable bytes keep chr(b), the 68 excluded
# bytes (0..32, 127..160, 173) take chr(256+k) in ascending byte order).
_DUCK_SYMS0 = """' ' || array_to_string(list_transform(
  flatten(list_transform(
    list_transform(range(1, length(word)+1),
                   i -> unicode(substr(word, CAST(i AS INT), 1))),
    cp -> CASE
      WHEN cp < 128 THEN [cp]
      WHEN cp < 2048 THEN [192 + cp//64, 128 + cp%64]
      WHEN cp < 65536 THEN [224 + cp//4096, 128 + (cp//64)%64, 128 + cp%64]
      ELSE [240 + cp//262144, 128 + (cp//4096)%64,
            128 + (cp//64)%64, 128 + cp%64] END)),
  b -> CASE
    WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
         OR (b BETWEEN 174 AND 255) THEN chr(CAST(b AS INT))
    WHEN b <= 32 THEN chr(CAST(256 + b AS INT))
    WHEN b <= 160 THEN chr(CAST(256 + 33 + b - 127 AS INT))
    ELSE chr(323) END), '  ') || ' '"""


def _bpe_bytes_stages() -> str:
    """The shared WITH-prefix replaying byte-level BPE TRAINING.

    Symbols never contain a space (the stand-in table maps every byte to
    a non-space character), so each word's symbol sequence serializes as
    ``' t1  t2  …  tn '`` — single-space outer sentinels, double-space
    separators. One merge (a,b) is then ONE string replace of
    ``' a  b '`` with ``' ab '``: both boundary spaces are asserted (no
    prefix/suffix false matches) but only the LEADING one is consumed,
    so a left-to-right replace-all pass merges exactly the leftmost
    non-overlapping occurrences — the same pass _merge_syms makes.
    Training unrolls K (pairs → argmax → apply) stages; an empty
    argmax (best pair below min_freq) no-ops that stage and every later
    one, matching the engine's early stop. CTEs are MATERIALIZED: each
    stage references its predecessor twice, and DuckDB's default CTE
    inlining would blow up 2^K."""
    k_stages = []
    for k in range(1, _BPE_BYTES_MERGES + 1):
        p = k - 1
        k_stages.append(f"""toks_{p} AS MATERIALIZED (
  SELECT word, freq,
         string_split(substr(s, 2, length(s)-2), '  ') AS t
  FROM syms_{p}
),
pairs_{k} AS MATERIALIZED (
  SELECT a, b, sum(freq) AS n FROM (
    SELECT t[i] AS a, t[i+1] AS b, freq
    FROM (SELECT freq, t, unnest(range(1, len(t))) AS i FROM toks_{p})
  ) GROUP BY a, b
),
m_{k} AS MATERIALIZED (
  SELECT a, b FROM pairs_{k} WHERE n >= {_BPE_BYTES_MIN_FREQ}
  ORDER BY n DESC, a, b LIMIT 1
),
syms_{k} AS MATERIALIZED (
  SELECT word, freq,
    CASE WHEN m.a IS NULL THEN s
         ELSE replace(s, ' ' || m.a || '  ' || m.b || ' ',
                         ' ' || m.a || m.b || ' ') END AS s
  FROM syms_{p} LEFT JOIN m_{k} m ON TRUE
)""")
    stages = ",\n".join(k_stages)
    return f"""pt AS MATERIALIZED (
  SELECT doc_id, unnest(regexp_extract_all(text, {_DUCK_BPE_RE})) AS word
  FROM documents WHERE text IS NOT NULL
),
syms_0 AS MATERIALIZED (
  SELECT word, count(*) AS freq, {_DUCK_SYMS0} AS s
  FROM pt GROUP BY word
),
{stages}"""


def _bpe_bytes_oracle() -> str:
    """Training-stage prefix (see :func:`_bpe_bytes_stages`) + the
    per-document count readout."""
    kk = _BPE_BYTES_MERGES
    return f"""
WITH {_bpe_bytes_stages()},
enc AS (
  SELECT word,
         CAST(octet_length(encode(word)) AS BIGINT) AS nb,
         CAST(len(string_split(substr(s, 2, length(s)-2), '  '))
              AS BIGINT) AS nt
  FROM syms_{kk}
),
agg AS (
  SELECT doc_id, count(*) AS n_pretokens, sum(e.nb) AS n_bytes,
         sum(e.nt) AS n_tokens
  FROM pt JOIN enc e USING (word) GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(n_pretokens, 0) AS BIGINT) AS n_pretokens,
  CAST(coalesce(n_bytes, 0) AS BIGINT) AS n_bytes,
  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


@register("text_bpe_bytes", oracle=_bpe_bytes_oracle())
def text_bpe_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: byte-level BPE (GPT-2 style, operators/bpe_bytes.py) trained
    in-engine on the corpus' regex pre-tokens ({K} merges, byte alphabet
    via the public byte→unicode stand-in table — no UNK ever), then the
    same corpus encoded under the learned table: per-document pre-token
    / byte / token counts.  Plan: training is one corpus shuffle to the
    pre-token vocabulary then per-merge ONE partial-agg exchange + a
    1-row driver top-1 + one Arrow pass (checkpointed, constant plan
    depth); encoding is one Arrow pass over UNIQUE pre-tokens joined
    back (two exchanges, independent of merge count and document
    length).  The oracle replays training AND encoding exactly: {K}
    unrolled (pair-count → argmax → string-replace merge) stages where
    a boundary-anchored replace IS the left-to-right merge pass —
    symbols never contain the space separator, so no false matches."""
    from whisper_pandas_spark.operators.bpe_bytes import (
        bpe_bytes_counts,
        bpe_bytes_train,
    )

    docs = table(spark, sf_dir, "documents")
    merges = bpe_bytes_train(
        docs, "text", _BPE_BYTES_MERGES, _BPE_BYTES_MIN_FREQ
    )
    return bpe_bytes_counts(docs, "doc_id", "text", merges).orderBy("doc_id")


# the GPT-2 byte→stand-in mapping as a scalar CASE over a byte column
# (the same mapping _DUCK_SYMS0 applies inside its lambda)
_DUCK_BYTE_TOK = """CASE
    WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
         OR (b BETWEEN 174 AND 255) THEN chr(CAST(b AS INT))
    WHEN b <= 32 THEN chr(CAST(256 + b AS INT))
    WHEN b <= 160 THEN chr(CAST(256 + 33 + b - 127 AS INT))
    ELSE chr(323) END"""


def _bpe_bytes_ids_oracle() -> str:
    """Training-stage prefix + vocabulary id assignment + the ordered
    per-document id-sequence readout. Ids follow the GPT-2 convention
    the engine's bpe_bytes_vocab implements: byte stand-ins get ids
    0..255 (byte value IS the id), merge outputs get 256.. in training
    order with first-occurrence wins for duplicate outputs."""
    kk = _BPE_BYTES_MERGES
    merges_union = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, a, b FROM m_{k}" for k in range(1, kk + 1)
    )
    return f"""
WITH {_bpe_bytes_stages()},
merges_all AS (
  {merges_union}
),
firsts AS (
  SELECT a || b AS tok, min(k) AS k0 FROM merges_all GROUP BY tok
),
mvocab AS (
  SELECT tok, 255 + row_number() OVER (ORDER BY k0) AS id FROM firsts
),
base AS (
  SELECT {_DUCK_BYTE_TOK} AS tok, CAST(b AS BIGINT) AS id
  FROM (SELECT unnest(range(0, 256)) AS b)
),
vt AS (
  SELECT tok, id FROM base UNION ALL SELECT tok, CAST(id AS BIGINT) FROM mvocab
),
vmap AS (
  SELECT map(list(tok ORDER BY id), list(id ORDER BY id)) AS m FROM vt
),
wids AS (
  SELECT word,
    array_to_string(list_transform(
      string_split(substr(s, 2, length(s)-2), '  '),
      t -> CAST(m[t][1] AS VARCHAR)), ',') AS wcsv,
    CAST(len(string_split(substr(s, 2, length(s)-2), '  ')) AS BIGINT) AS nt
  FROM syms_{kk}, vmap
),
ptp AS (
  SELECT doc_id, i.i AS pos, ta[i.i] AS word
  FROM (SELECT doc_id, regexp_extract_all(text, {_DUCK_BPE_RE}) AS ta
        FROM documents WHERE text IS NOT NULL) d,
       LATERAL (SELECT unnest(range(1, len(ta) + 1)) AS i) i
),
agg AS (
  SELECT p.doc_id,
         string_agg(w.wcsv, ',' ORDER BY p.pos) AS ids_csv,
         CAST(sum(w.nt) AS BIGINT) AS n_tokens
  FROM ptp p JOIN wids w USING (word) GROUP BY p.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
  coalesce(ids_csv, '') AS ids_csv
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


@register("text_bpe_bytes_ids", oracle=_bpe_bytes_ids_oracle())
def text_bpe_bytes_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: the byte-level BPE ENCODE-TO-IDS half (operators/bpe_bytes.py:
    bpe_bytes_encode_ids) — every document's full token-id sequence
    under the in-engine-trained merge table, with the GPT-2 id
    convention (byte value IS the id for the 256 stand-ins; merge
    outputs number 256.. in training order, first occurrence wins).
    Byte fallback means no unknown id can ever occur.  Plan: the merge
    loop runs once per UNIQUE pre-token (Arrow pass), id strings join
    back to the POSITIONAL pre-token stream, and each document
    reassembles with one sort_array-over-structs aggregation —
    order-correct under any partitioning, no window; two exchanges
    independent of merge count.  The oracle replays training, id
    assignment AND the ordered reassembly (string_agg ORDER BY
    position), so whole id sequences hash-match."""
    from whisper_pandas_spark.operators.bpe_bytes import (
        bpe_bytes_encode_ids,
        bpe_bytes_train,
    )

    docs = table(spark, sf_dir, "documents")
    merges = bpe_bytes_train(
        docs, "text", _BPE_BYTES_MERGES, _BPE_BYTES_MIN_FREQ
    )
    return bpe_bytes_encode_ids(docs, "doc_id", "text", merges).orderBy(
        "doc_id"
    )


@register("text_repetition_profile", oracle=_rep_oracle())
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: the Gopher/Dolma pre-training repetition filter pack
    (operators/repetition.py:repetition_profile) — duplicate and top
    word-2/3/4-gram occurrence shares, symbol-to-word ratio,
    bullet/ellipsis line fractions, and the published threshold gate,
    per document.  Plan: every COUNT except the top-n-gram frequencies
    fuses into one codegen scan (zip-of-slices shingle counts, sentinel
    -newline regexp_count line rules — no multiline anchors, no lambda
    HOFs); the top counts explode the zipped token window LOCALLY
    (linear bytes, no shuffle) and take exactly two keyed exchanges
    (groupBy(doc,n,gram) count with map-side partial agg, then a 3-row
    -per-doc conditional-max pivot).  Scale: the only shuffled bytes
    are distinct-gram counts, and every share is an exact-integer IEEE
    division — the oracle replays bit-for-bit."""
    from whisper_pandas_spark.operators.repetition import repetition_profile

    docs = table(spark, sf_dir, "documents")
    return repetition_profile(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_wordpiece_ids
# ---------------------------------------------------------------------------
# Training replay reuses the round-11 serialized-symbols trick (symbols
# never contain a space, so one merge is ONE string replace of
# ' a  b ' with ' ab ' — see _bpe_bytes_stages), with
# the WordPiece differences: initial units are first-char + ##-chars,
# the argmax joins per-unit totals to score n_ab / (n_a * n_b)
# (exact-integer operands -> bit-identical IEEE division), and the
# merged piece is a || substr(b, 3). Encoding unrolls MAX_WORD_CHARS
# greedy longest-match stages (each consumes >= 1 char; every char
# position of a corpus word generates its unit, so no UNK except the
# over-long-word clamp).

_WP_MERGES = 10
_WP_MIN_FREQ = 2


def _wp_oracle() -> str:
    from whisper_pandas_spark.operators.wordpiece import MAX_WORD_CHARS, UNK_ID

    maxc = MAX_WORD_CHARS
    stages = []
    vocab_union = ["SELECT u AS piece FROM units_0"]
    for k in range(1, _WP_MERGES + 1):
        p = k - 1
        stages.append(f"""toks_{p} AS MATERIALIZED (
  SELECT word, freq, string_split(substr(s, 2, length(s) - 2), '  ') AS t
  FROM syms_{p}
),
units_{p} AS MATERIALIZED (
  SELECT u, sum(freq) AS n FROM (
    SELECT freq, unnest(t) AS u FROM toks_{p}
  ) GROUP BY u
),
pairs_{k} AS MATERIALIZED (
  SELECT a, b, sum(freq) AS n FROM (
    SELECT t[i] AS a, t[i+1] AS b, freq
    FROM (SELECT freq, t, unnest(range(1, len(t))) AS i FROM toks_{p})
  ) GROUP BY a, b
),
m_{k} AS MATERIALIZED (
  SELECT p.a, p.b, p.a || substr(p.b, 3) AS ab
  FROM pairs_{k} p
  JOIN units_{p} ua ON ua.u = p.a
  JOIN units_{p} ub ON ub.u = p.b
  WHERE p.n >= {_WP_MIN_FREQ}
  ORDER BY CAST(p.n AS DOUBLE) / CAST(ua.n * ub.n AS DOUBLE) DESC, p.a, p.b
  LIMIT 1
),
syms_{k} AS MATERIALIZED (
  SELECT word, freq,
    CASE WHEN m.a IS NULL THEN s
         ELSE replace(s, ' ' || m.a || '  ' || m.b || ' ',
                         ' ' || m.ab || ' ') END AS s
  FROM syms_{p} LEFT JOIN m_{k} m ON TRUE
)""")
        vocab_union.append(f"SELECT ab AS piece FROM m_{k}")

    enc_stages = []
    prev = "e_0"
    for i in range(1, maxc + 1):
        enc_stages.append(f"""b_{i} AS MATERIALIZED (
  SELECT word, rem, first, ids, unk, best, best_id FROM (
    SELECT e.word, e.rem, e.first, e.ids, e.unk,
      v.piece AS best, v.id AS best_id,
      row_number() OVER (PARTITION BY e.word
        ORDER BY (CASE WHEN e.first THEN length(v.piece)
                       ELSE length(v.piece) - 2 END) DESC) AS rn
    FROM {prev} e JOIN vocab_ids v
      ON (CASE WHEN e.first
               THEN NOT starts_with(v.piece, '##')
                    AND starts_with(e.rem, v.piece)
               ELSE starts_with(v.piece, '##')
                    AND starts_with(e.rem, substr(v.piece, 3)) END)
    WHERE e.rem <> ''
  ) WHERE rn = 1
),
e_{i} AS MATERIALIZED (
  SELECT word,
    substr(rem, (CASE WHEN first THEN length(best)
                      ELSE length(best) - 2 END) + 1) AS rem,
    false AS first, list_append(ids, best_id) AS ids, unk
  FROM b_{i}
  UNION ALL
  SELECT word, rem, first, ids, unk FROM {prev} WHERE rem = ''
)""")
        prev = f"e_{i}"

    train_sql = ",\n".join(stages)
    enc_sql = ",\n".join(enc_stages)
    vocab_sql = " UNION ALL ".join(vocab_union)
    return f"""
WITH pt AS MATERIALIZED (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[CAST(i AS INT)] AS word FROM (
    SELECT doc_id, regexp_split_to_array(trim(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
    FROM documents
  ), unnest(range(1, len(ws) + 1)) AS t(i)
  WHERE ws[CAST(i AS INT)] <> ''
),
wvocab AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM pt GROUP BY word
),
syms_0 AS MATERIALIZED (
  SELECT word, freq,
    ' ' || substr(word, 1, 1) ||
    CASE WHEN length(word) > 1
         THEN '  ' || array_to_string(
                list_transform(range(2, length(word) + 1),
                  i -> '##' || substr(word, CAST(i AS INT), 1)), '  ')
         ELSE '' END || ' ' AS s
  FROM wvocab
),
{train_sql},
vocab AS MATERIALIZED (
  SELECT DISTINCT piece FROM ({vocab_sql})
),
vocab_ids AS MATERIALIZED (
  SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS id FROM vocab
),
e_0 AS MATERIALIZED (
  SELECT word,
    CASE WHEN length(word) > {maxc} THEN '' ELSE word END AS rem,
    true AS first,
    CASE WHEN length(word) > {maxc}
         THEN [CAST({UNK_ID} AS BIGINT)] ELSE []::BIGINT[] END AS ids,
    length(word) > {maxc} AS unk
  FROM (SELECT DISTINCT word FROM pt)
),
{enc_sql},
enc AS MATERIALIZED (
  SELECT word, array_to_string(ids, ',') AS wid,
    CAST(len(ids) AS BIGINT) AS nt,
    CASE WHEN unk THEN 1 ELSE 0 END AS unkn
  FROM {prev}
),
agg AS (
  SELECT p.doc_id, count(*) AS n_pretokens, sum(e.nt) AS n_tokens,
    sum(e.unkn) AS n_unk,
    string_agg(e.wid, ',' ORDER BY p.pos) AS ids_csv
  FROM pt p JOIN enc e USING (word) GROUP BY p.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(n_pretokens, 0) AS BIGINT) AS n_pretokens,
  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(coalesce(n_unk, 0) AS BIGINT) AS n_unk,
  coalesce(ids_csv, '') AS ids_csv
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg USING (doc_id)
ORDER BY d.doc_id
"""


@register("text_wordpiece_ids", oracle=_wp_oracle())
def text_wordpiece_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: WordPiece (BERT) — likelihood-scored merge training
    (score = n_ab / (n_a * n_b), the objective BPE's raw-frequency rule
    does NOT share) and greedy longest-match-first encode-to-ids
    (operators/wordpiece.py). Training is the blessed histogram-collect
    + driver-local loop; encode runs once per UNIQUE pre-token (Arrow
    pass) and reassembles per-document id sequences with the
    sort_array-over-structs pattern — two exchanges, independent of
    vocab size. The oracle replays training (serialized-symbol merge
    stages with the scored argmax), id assignment, AND the full greedy
    encode loop (one longest-match stage per consumed char), so whole
    id sequences hash-match."""
    from whisper_pandas_spark.operators.wordpiece import (
        wordpiece_encode_ids,
        wordpiece_train,
    )

    docs = table(spark, sf_dir, "documents")
    pieces = wordpiece_train(docs, "text", _WP_MERGES, _WP_MIN_FREQ)
    return wordpiece_encode_ids(docs, "doc_id", "text", pieces).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# text_kn_trigram_score
# ---------------------------------------------------------------------------


def _kn_oracle() -> str:
    from whisper_pandas_spark.operators.knlm import BOS, EOS, KN_DISCOUNT

    d = repr(KN_DISCOUNT)
    return f"""
WITH seqs AS (
  SELECT doc_id,
    list_concat(list_concat(['{BOS}', '{BOS}'],
      list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
        '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')),
      ['{EOS}']) AS seq
  FROM documents
), tri AS (
  SELECT doc_id, CAST(i + 2 AS BIGINT) AS pos,
    seq[CAST(i AS INT)] AS w1,
    seq[CAST(i + 1 AS INT)] AS w2,
    seq[CAST(i + 2 AS INT)] AS w3
  FROM seqs, unnest(range(1, len(seq) - 1)) AS t(i)
), c123 AS (
  SELECT w1, w2, w3, count(*) AS c123 FROM tri GROUP BY w1, w2, w3
), ctx12 AS (
  SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
         count(*) AS n1p_12dot
  FROM c123 GROUP BY w1, w2
), n1p23 AS (
  SELECT w2, w3, count(*) AS n1p_dot23 FROM c123 GROUP BY w2, w3
), mid AS (
  SELECT w2, count(*) AS n1p_dot2dot,
         count(DISTINCT w3) AS n1p_2dot
  FROM c123 GROUP BY w2
), cont AS (
  SELECT w3, count(*) AS n1p_dotw3 FROM n1p23 GROUP BY w3
), nt AS (
  SELECT count(*) AS n_bigram_types FROM n1p23
), scored AS (
  SELECT t.doc_id, t.pos,
    ln(
      greatest(CAST(c.c123 AS DOUBLE) - {d}, 0.0) / CAST(x.c12 AS DOUBLE)
      + (({d} * CAST(x.n1p_12dot AS DOUBLE)) / CAST(x.c12 AS DOUBLE))
        * (
          greatest(CAST(b.n1p_dot23 AS DOUBLE) - {d}, 0.0)
            / CAST(m.n1p_dot2dot AS DOUBLE)
          + (({d} * CAST(m.n1p_2dot AS DOUBLE))
             / CAST(m.n1p_dot2dot AS DOUBLE))
            * (CAST(u.n1p_dotw3 AS DOUBLE) / CAST(nt.n_bigram_types AS DOUBLE))
        )
    ) AS lp
  FROM tri t
  JOIN c123 c USING (w1, w2, w3)
  JOIN ctx12 x USING (w1, w2)
  JOIN n1p23 b USING (w2, w3)
  JOIN mid m USING (w2)
  JOIN cont u USING (w3)
  CROSS JOIN nt
)
SELECT doc_id, count(*) AS n_trigrams,
  round(list_reduce(list_prepend(0.0::DOUBLE, array_agg(lp ORDER BY pos)),
        (a, x) -> a + x), 6) AS logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


@register("text_kn_trigram_score", oracle=_kn_oracle())
def text_kn_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: interpolated Kneser-Ney trigram LM (operators/knlm.py) —
    the corpus trains the model and scores every document in one plan,
    the CCNet-class perplexity quality signal with the real smoothing
    machinery (absolute discounting, CONTINUATION counts for the lower
    orders, two-level interpolation). All six count tables are
    vocab-bounded grouped aggregates of the padded trigram stream
    (winnowing's posexplode+lead idiom, codegen); scoring joins the
    stream back on its keys; the per-doc reduction is an order-pinned
    ln-probability fold (bit-parity doubles). The oracle replays
    counts, the exact arithmetic tree, and the ordered fold."""
    from whisper_pandas_spark.operators.knlm import kn_trigram_score

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return kn_trigram_score(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_span_corruption
# ---------------------------------------------------------------------------


def _span_oracle() -> str:
    from whisper_pandas_spark.operators.spancorrupt import (
        BLOCK,
        EOS_TOKEN,
        SPAN_LEN,
    )

    b, sl = BLOCK, SPAN_LEN
    off = (
        f"(('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR) || ':'"
        f" || CAST(i // {b} AS VARCHAR)), 1, 15))::BIGINT % {b - sl + 1})"
    )
    mask = (
        f"CASE WHEN ((i // {b}) * {b} + {b} <= len(t))"
        f" AND (i % {b}) >= {off} AND (i % {b}) < {off} + {sl}"
        f" THEN (i // {b}) + 1 ELSE 0 END"
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS t
  FROM documents
), marked AS (
  SELECT doc_id, t, CAST(len(t) AS INT) AS n_tokens,
    list_transform(range(0, len(t)), i -> {mask}) AS m,
    list_transform(range(0, len(t)), i -> {off}) AS offs
  FROM toks
)
SELECT doc_id, n_tokens,
  CAST(len(list_filter(m, v -> v <> 0)) AS INT) AS n_masked,
  CAST(len(list_distinct(list_filter(m, v -> v <> 0))) AS INT) AS n_spans,
  coalesce(array_to_string(list_filter(
    list_transform(range(0, len(t)), i ->
      CASE WHEN m[CAST(i + 1 AS INT)] = 0 THEN t[CAST(i + 1 AS INT)]
           WHEN i % {b} = offs[CAST(i + 1 AS INT)]
             THEN '<X_' || m[CAST(i + 1 AS INT)] || '>'
           ELSE '' END), x -> x <> ''), ' '), '') AS input_text,
  coalesce(array_to_string(list_filter(
    list_transform(range(0, len(t)), i ->
      CASE WHEN m[CAST(i + 1 AS INT)] = 0 THEN ''
           WHEN i % {b} = offs[CAST(i + 1 AS INT)]
             THEN '<X_' || m[CAST(i + 1 AS INT)] || '> '
                  || t[CAST(i + 1 AS INT)]
           ELSE t[CAST(i + 1 AS INT)] END), x -> x <> ''), ' '), '')
  || CASE WHEN len(list_filter(m, v -> v <> 0)) > 0 THEN ' ' ELSE '' END
  || '{EOS_TOKEN}' AS target_text
FROM marked ORDER BY doc_id
"""


@register("text_span_corruption", oracle=_span_oracle())
def text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: T5-style span corruption (operators/spancorrupt.py) — the
    seq2seq pre-training data-prep step: block-randomized masked spans
    (md5-driven placement — no RNG state, resume-safe, engine-
    replayable; same 15% corruption rate as T5's iid sampling),
    sentinel-tokened (input, target) pair per document. One
    zero-shuffle projection; the oracle replays block arithmetic, md5
    offsets, and both output sequences verbatim."""
    from whisper_pandas_spark.operators.spancorrupt import span_corrupt

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return span_corrupt(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_fim_transform
# ---------------------------------------------------------------------------
# Fill-in-the-middle (Bavarian et al. 2022 "Efficient Training of
# Language Models to Fill in the Middle"): reorder each document into
# PSM form — <PRE> prefix <SUF> suffix <MID> middle — at a 50% apply
# rate, so the model learns infilling without losing left-to-right
# ability. Deterministic variant: the apply gate and both cut points
# are md5 functions of doc_id (no RNG state, resume-safe — the span-
# corruption convention). Cut points: c1 = h1 % (n+1),
# c2 = c1 + h2 % (n - c1 + 1) over the token sequence.

_FIM_PRE, _FIM_SUF, _FIM_MID = "<fim_pre>", "<fim_suf>", "<fim_mid>"


def _fim_oracle() -> str:
    h0, h1, h2 = (
        duck_md5_int(f"'fim{i}:' || CAST(doc_id AS VARCHAR)", HASH_HEX_CHARS)
        for i in range(3)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(trim(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS t
  FROM documents
), cuts AS (
  SELECT doc_id, t, len(t) AS n,
    ({h0} % 2 = 0) AS fim_applied,
    CAST({h1} % (len(t) + 1) AS BIGINT) AS c1
  FROM toks
), cuts2 AS (
  SELECT *, c1 + CAST({h2} % (n - c1 + 1) AS BIGINT) AS c2 FROM cuts
)
SELECT doc_id, fim_applied,
  CAST(CASE WHEN fim_applied THEN c1 ELSE n END AS INT) AS n_prefix,
  CAST(CASE WHEN fim_applied THEN c2 - c1 ELSE 0 END AS INT) AS n_middle,
  CAST(CASE WHEN fim_applied THEN n - c2 ELSE 0 END AS INT) AS n_suffix,
  CASE WHEN fim_applied THEN
    '{_FIM_PRE} '
    || coalesce(array_to_string(t[1:CAST(c1 AS INT)], ' '), '')
    || ' {_FIM_SUF} '
    || coalesce(array_to_string(
         t[CAST(c2 + 1 AS INT):CAST(n AS INT)], ' '), '')
    || ' {_FIM_MID} '
    || coalesce(array_to_string(
         t[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' '), '')
  ELSE coalesce(array_to_string(t, ' '), '') END AS fim_text
FROM cuts2 ORDER BY doc_id
"""


@register("text_fim_transform", oracle=_fim_oracle())
def text_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: fill-in-the-middle data prep (Bavarian et al. 2022) — PSM
    reordering (<PRE> prefix <SUF> suffix <MID> middle) at a 50% apply
    rate with md5-driven cut points (no RNG state, resume-safe; the
    span-corruption determinism convention). One zero-shuffle
    projection; the oracle replays gates, cut arithmetic, and the
    reordered text verbatim."""
    from whisper_pandas_spark.functions.text import tokenize

    h0, h1, h2 = (
        seeded_hash64(F.col("doc_id").cast("string"), f"fim{i}")
        for i in range(3)
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("t0")
    ).select(
        "doc_id", F.expr("filter(t0, x -> x != '')").alias("t")
    ).select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
        (h0 % 2 == 0).alias("fim_applied"),
        (h1 % (F.size("t") + 1)).alias("c1"),
    ).select(
        "*",
        (F.col("c1") + h2 % (F.col("n") - F.col("c1") + 1)).alias("c2"),
    )
    join_slice = (
        "array_join(slice(t, {start}, {length}), ' ')"
    )
    pre = join_slice.format(start="1", length="cast(c1 as int)")
    mid = join_slice.format(
        start="cast(c1 + 1 as int)", length="cast(c2 - c1 as int)"
    )
    suf = join_slice.format(
        start="cast(c2 + 1 as int)", length="cast(n - c2 as int)"
    )
    return docs.select(
        "doc_id",
        "fim_applied",
        F.expr("cast(IF(fim_applied, c1, n) as int)").alias("n_prefix"),
        F.expr("cast(IF(fim_applied, c2 - c1, 0) as int)").alias("n_middle"),
        F.expr("cast(IF(fim_applied, n - c2, 0) as int)").alias("n_suffix"),
        F.expr(
            f"IF(fim_applied,"
            f" concat('{_FIM_PRE} ', {pre}, ' {_FIM_SUF} ', {suf},"
            f" ' {_FIM_MID} ', {mid}),"
            " array_join(t, ' '))"
        ).alias("fim_text"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# stream_kn_replay
# ---------------------------------------------------------------------------


@register("stream_kn_replay", oracle=_kn_oracle())  # the batch KN oracle
def stream_kn_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming LM-statistics maintenance (streaming/sketches.py:
    stream_kn_counts_update) replayed end-to-end — the corpus streams
    through foreachBatch as two document files, each batch's trigram
    counts elementwise-SUM-merged into the versioned (w1,w2,w3,c123)
    state (ADDITIVE law -> exactly-once via checkpoint-scoped batch
    markers, the CMS contrast to the idempotent Bloom/HLL maintainers),
    then the WHOLE corpus is scored against the final state
    (operators/knlm.py:kn_score_from_counts). Exactly-once merging
    makes stream state == batch counts bit-for-bit, so this shares
    `text_kn_trigram_score`'s oracle — one hash gate proving batch
    counting, additive merges, version flips, AND the scoring readout
    over live-maintained statistics."""
    from whisper_pandas_spark.operators.knlm import (
        kn_score_from_counts,
        trigram_stream,
    )
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_kn_counts_update

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    d = replay(
        spark,
        [docs.filter(F.col("doc_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_kn_counts_update(
            sdf, f"{d}/state", "doc_id", "text", checkpoint_dir=ckpt
        ),
    )
    c123 = spark.read.parquet(current_version_path(f"{d}/state"))
    tri = stage_materialize(trigram_stream(docs, "doc_id", "text"))
    return kn_score_from_counts(tri, c123, "doc_id").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_compression_ratio
# ---------------------------------------------------------------------------
# zlib is a deterministic byte function no SQL engine exposes, so the
# oracle pins the exact per-document compressed byte counts — computed
# INDEPENDENTLY driver-side over the same parquet at oracle-build time
# (the queries_whisper geometry-VALUES precedent) — and replays raw
# lengths and all ratio/flag arithmetic in SQL. What the hash gate then
# verifies is exactly the distributed claim: partitioning, Arrow
# batching, row alignment, and the shared rounded-ratio/flag
# expressions. The fixture plants both pathological tails so the gate
# exercises BOTH flags: doc_id % 31 == 7 repeats one sentence
# (compresses far below the lo threshold); doc_id % 43 == 11 becomes
# md5-derived iid printable-ASCII noise (each hex byte pair maps to
# chr(33 + b % 94) — ~6.5 bits/char entropy, ratio ~0.85-0.9, above
# the hi threshold; raw md5 HEX would not work: a 16-symbol alphabet
# compresses to ~0.56).

_COMPRATIO_NOISE_MD5S = 40  # 40 md5s -> 640 noise chars per doc


def _compratio_fixture(docs: DataFrame) -> DataFrame:
    """(doc_id, t) — the fixture corpus. Two-stage projection: the
    40-md5 noise hex materializes into its OWN column first (the
    word_shingles PERF CONTRACT — an inline reference inside the
    per-char lambda would re-evaluate the whole concat per element),
    guarded by the same condition as its consumer (the
    CSE-before-filter trap). The consumer tests ``nh != ''`` instead
    of repeating the ``% 43`` predicate so that ``nh`` is referenced
    TWICE — CollapseProject inlines a once-referenced alias into the
    lambda body, which re-ran the inner 40-md5 transform per character
    (measured 4.7 s of pure fixture at sf0.1; double-reference keeps
    the barrier and the fixture drops to scan cost)."""
    noise_hex = (
        f"IF(doc_id % 43 = 11,"
        f" array_join(transform(sequence(0, {_COMPRATIO_NOISE_MD5S - 1}),"
        " i -> md5(concat('noise:', cast(doc_id as string), ':',"
        " cast(i as string)))), ''), '')"
    )
    printable = (
        f"array_join(transform(sequence(0, {_COMPRATIO_NOISE_MD5S * 16 - 1}),"
        " j -> char(33 + cast(conv(substring(nh, j * 2 + 1, 2),"
        " 16, 10) as int) % 94)), '')"
    )
    case = (
        "CASE WHEN doc_id % 31 = 7 THEN"
        " repeat('the same boilerplate sentence repeats endlessly here. ', 40)"
        f" WHEN nh != '' THEN {printable}"
        " ELSE text END"
    )
    return docs.select(
        "doc_id", "text", F.expr(noise_hex).alias("nh")
    ).select("doc_id", F.expr(case).alias("t"))


_COMPRATIO_FIXTURE_DUCK = f"""
  CASE WHEN doc_id % 31 = 7 THEN
    repeat('the same boilerplate sentence repeats endlessly here. ', 40)
  WHEN doc_id % 43 = 11 THEN
    array_to_string(list_transform(range(0, {_COMPRATIO_NOISE_MD5S * 16}),
      j -> chr(33 + CAST(('0x' || substr(
             array_to_string(list_transform(range(0, {_COMPRATIO_NOISE_MD5S}),
               i -> md5('noise:' || CAST(doc_id AS VARCHAR) || ':'
                        || CAST(i AS VARCHAR))), ''),
             CAST(j * 2 + 1 AS INT), 2))::BIGINT % 94 AS INT))), '')
  ELSE text END
"""


def _compratio_oracle() -> str | None:
    """Build the VALUES-pinned oracle: per-doc zlib lengths computed
    driver-side (single pass, same pinned level the executors use) over
    the sweep's own parquet — SF-aware via ORACLE_SF_DIR so the
    sf0.001/sf0.1 re-check geometries stay valid.

    Runs at registry IMPORT time (decorator argument), so it must not
    crash a session that lacks the fixture: if the parquet is
    unreadable the entry degrades to the rows-only tier (oracle=None)
    instead of breaking every registry import."""
    import duckdb

    from whisper_pandas_spark.operators.compratio import (
        RATIO_HI,
        RATIO_LO,
        zlib_len,
    )

    sf_dir = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        rows = (
            duckdb.connect()
            .execute(
                f"""
                SELECT doc_id, {_COMPRATIO_FIXTURE_DUCK} AS t
                FROM read_parquet('{sf_dir}/documents.parquet')
                ORDER BY doc_id
                """
            )
            .fetchall()
        )
    except Exception:
        return None  # fixture absent: rows-only tier, import survives
    vals = ",".join(f"({i},{zlib_len(t)})" for i, t in rows)
    return f"""
WITH comp(doc_id, comp_len) AS (VALUES {vals}),
fix AS (
  SELECT doc_id, {_COMPRATIO_FIXTURE_DUCK} AS t FROM documents
), base AS (
  SELECT f.doc_id,
         octet_length(encode(f.t)) AS raw_len,
         c.comp_len
  FROM fix f JOIN comp c USING (doc_id)
), r AS (
  SELECT doc_id, raw_len, comp_len,
         floor(CAST(comp_len AS DOUBLE) / CAST(raw_len AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS ratio
  FROM base
)
SELECT doc_id, raw_len, comp_len, ratio,
       (ratio < {RATIO_LO}) AS too_repetitive,
       (ratio > {RATIO_HI}) AS too_random
FROM r ORDER BY doc_id
"""


@register("text_compression_ratio", oracle=_compratio_oracle())
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: per-document zlib compression ratio
    (operators/compratio.py) — the cheap two-sided quality gate
    curation pipelines run FIRST: too-compressible = repetitive
    boilerplate, incompressible = high-entropy non-text. One
    zero-shuffle Arrow pass; the oracle pins independently-computed
    compressed byte counts and replays the ratio/flag arithmetic."""
    from whisper_pandas_spark.operators.compratio import compression_ratio

    docs = _compratio_fixture(table(spark, sf_dir, "documents"))
    return compression_ratio(docs, "doc_id", "t").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_token_entropy
# ---------------------------------------------------------------------------


def _entropy_oracle() -> str:
    from whisper_pandas_spark.operators.lexical import log2_values_sql

    toks = (
        "regexp_split_to_array(trim(regexp_replace(lower(text),"
        "'[^a-z0-9]+', ' ', 'g')), ' ')"
    )
    return f"""
WITH l2(i, l2) AS (VALUES {log2_values_sql()}),
toks AS (
  SELECT doc_id, unnest(list_filter({toks}, x -> x != '')) AS tok
  FROM documents
), c AS (
  SELECT doc_id, tok, CAST(count(*) AS INT) AS c
  FROM toks GROUP BY doc_id, tok
), t AS (
  SELECT c.doc_id, c.tok, c.c, CAST(c.c AS DOUBLE) * l2.l2 AS term
  FROM c LEFT JOIN l2 ON l2.i = c.c
), a AS (
  SELECT doc_id,
    CAST(sum(c) AS BIGINT) AS n_tokens,
    CAST(count(*) AS BIGINT) AS n_types,
    CAST(sum(CAST(c AS BIGINT) * c) AS BIGINT) AS c2,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY tok)),
                (x, y) -> x + y) AS tsum
  FROM t GROUP BY doc_id
)
SELECT a.doc_id, a.n_tokens, a.n_types,
  round(l2n.l2 - a.tsum / CAST(a.n_tokens AS DOUBLE) + 1e-9, 6) AS entropy,
  round(CAST(a.n_types AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) + 1e-9, 6)
    AS ttr,
  round(CAST(a.c2 AS DOUBLE)
        / (CAST(a.n_tokens AS DOUBLE) * CAST(a.n_tokens AS DOUBLE))
        + 1e-9, 6) AS simpson
FROM a LEFT JOIN l2 l2n ON l2n.i = a.n_tokens
ORDER BY doc_id
"""


@register("text_token_entropy", oracle=_entropy_oracle())
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: per-document lexical-diversity profile
    (operators/lexical.py) — Shannon entropy (bits/token), type/token
    ratio, Simpson repetition index. The pinned-log2 contract makes
    every pre-rounding double BIT-IDENTICAL cross-engine (both engines
    read the same repr'd log2 literals; per-doc sums are sorted-order
    left folds, never engine-ordered SUMs). Plan: one narrow explode,
    two keyed partial-agg exchanges, one constant-size broadcast."""
    from whisper_pandas_spark.operators.lexical import token_entropy

    docs = table(spark, sf_dir, "documents")
    return token_entropy(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_dsir_weights
# ---------------------------------------------------------------------------


def _dsir_oracle() -> str:
    toks = (
        "regexp_split_to_array(trim(regexp_replace(lower(text),"
        "'[^a-z0-9]+', ' ', 'g')), ' ')"
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
         ('0x' || substr(md5('dsir:' || tok), 1, 15))::BIGINT % 256 AS b
  FROM (
    SELECT doc_id, lang, unnest(list_filter({toks}, x -> x != '')) AS tok
    FROM documents
  )
), model AS (
  SELECT b, CAST(sum(is_t) AS BIGINT) AS ct_t,
         CAST(count(*) AS BIGINT) AS ct_r
  FROM toks GROUP BY b
), tot AS (
  SELECT CAST(sum(ct_t) AS BIGINT) AS tt, CAST(sum(ct_r) AS BIGINT) AS tr
  FROM model
), lw AS (
  SELECT b, ln(CAST(ct_t + 1 AS DOUBLE)) - ln(CAST(tt + 256 AS DOUBLE))
          - ln(CAST(ct_r + 1 AS DOUBLE)) + ln(CAST(tr + 256 AS DOUBLE)) AS lw
  FROM model, tot
), per AS (
  SELECT doc_id, b, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY doc_id, b
), sc AS (
  SELECT per.doc_id,
    CAST(sum(n) AS BIGINT) AS n_tokens,
    list_reduce(
      list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(n AS DOUBLE) * lw.lw ORDER BY per.b)),
      (x, y) -> x + y) AS score
  FROM per JOIN lw USING (b) GROUP BY per.doc_id
)
SELECT d.doc_id,
  coalesce(sc.n_tokens, 0) AS n_tokens,
  round(coalesce(sc.score, 0.0) + 1e-9, 6) AS dsir_logratio
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@register("text_dsir_weights", oracle=_dsir_oracle())
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: DSIR importance weights (operators/dsir.py; Xie et al.
    2023) — hashed-unigram (B=256) log-likelihood ratio of the target
    subcorpus (lang='en') vs the raw corpus, summed per document via a
    sorted-bucket left fold. Counts/buckets are exact integers; the
    ln() calls are the only transcendentals (the established biased-
    round-6 budget). Plan: one explode feeding BOTH models through
    conditional aggregation, constant-size weight broadcast, one
    (doc, bucket) exchange."""
    from whisper_pandas_spark.operators.dsir import dsir_weights

    docs = table(spark, sf_dir, "documents")
    return dsir_weights(
        docs, "doc_id", "text", F.col("lang") == "en"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_dsir_resample — the selection half of the DSIR recipe
# ---------------------------------------------------------------------------

_DSIR_RS_K = 100
_DSIR_RS_SEED = 11


def _dsir_resample_oracle() -> str:
    base = _dsir_oracle().rsplit("ORDER BY d.doc_id", 1)[0]
    return f"""
WITH scored AS ({base}),
keyed AS (
  SELECT doc_id, dsir_logratio,
         exp(ln((('0x' || substr(md5('{_DSIR_RS_SEED}:'
                    || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                 / 4294967296.0)
             / exp(dsir_logratio)) AS rk
  FROM scored
)
SELECT doc_id, dsir_logratio, round(rk, 12) AS rank_key
FROM keyed ORDER BY rk DESC, doc_id LIMIT {_DSIR_RS_K}
"""


@register("text_dsir_resample", oracle=_dsir_resample_oracle())
def text_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4+: the SELECTION half of DSIR (Xie et al. 2023 §3: importance
    RESAMPLING) — Efraimidis-Spirakis weighted sample-without-
    replacement (operators/sampling.py:weighted_sample_k) over
    w = exp(dsir_logratio), so inclusion probability tracks the
    importance ratio at every prefix. The weight exponentiates the
    ROUNDED score column — both engines raise e to identical operands
    (the cross-engine exp/ln budget is the established
    sample_weighted_topk precedent). Top-k compiles to
    TakeOrderedAndProject: per-partition heads, no global sort — the
    100 TB shape."""
    from whisper_pandas_spark.operators.dsir import dsir_weights
    from whisper_pandas_spark.operators.sampling import weighted_sample_k

    docs = table(spark, sf_dir, "documents")
    scored = dsir_weights(docs, "doc_id", "text", F.col("lang") == "en")
    sel = weighted_sample_k(
        scored.withColumn("w", F.exp("dsir_logratio")),
        "doc_id",
        "w",
        k=_DSIR_RS_K,
        seed=_DSIR_RS_SEED,
    )
    return sel.select("doc_id", "dsir_logratio", "rank_key")


# ---------------------------------------------------------------------------
# text_ccnet_buckets
# ---------------------------------------------------------------------------


def _ccnet_oracle() -> str:

    return f"""
WITH kn AS ({_kn_oracle()}
), j AS (
  SELECT k.doc_id, d.lang, k.n_trigrams,
    k.logprob / CAST(k.n_trigrams AS DOUBLE) AS ratio
  FROM kn k JOIN documents d USING (doc_id)
), rnk AS (
  SELECT lang, n_trigrams,
    row_number() OVER (PARTITION BY lang ORDER BY ratio DESC, doc_id) AS r,
    count(*) OVER (PARTITION BY lang) AS n
  FROM j
)
SELECT lang,
  CASE WHEN 3 * r <= n THEN 'head'
       WHEN 3 * r <= 2 * n THEN 'middle'
       ELSE 'tail' END AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_trigrams) AS BIGINT) AS trigrams_total
FROM rnk GROUP BY lang, bucket ORDER BY lang, bucket
"""


@register("text_ccnet_buckets", oracle=_ccnet_oracle())
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y169: the CCNet bucketing stage (Wenzek et al. 2020) — per
    LANGUAGE, rank documents by the KN-LM per-trigram log-probability
    (the corpus-typicality signal text_kn_trigram_score already
    hash-proves) and split into head/middle/tail thirds. Cutoffs are
    integer rank-thirds (3r<=n / 3r<=2n), so there is no percent_rank
    single-row edge case and no float exp — the perplexity ORDER is
    what CCNet buckets on, and logprob/n is monotonic in it. One
    window shuffle on lang after the LM scoring plan; the output is
    the per-(lang, bucket) census a mixture stage consumes. CCNet
    trains one LM per language; the corpus LM here is that recipe's
    single-model configuration — swapping in per-lang counts changes
    only the grouping key of the count tables, not this stage."""
    from pyspark.sql import Window

    from whisper_pandas_spark.operators.knlm import kn_trigram_score

    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    kn = kn_trigram_score(docs, "doc_id", "text")
    j = kn.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "n_trigrams",
        "doc_id",
        (F.col("logprob") / F.col("n_trigrams").cast("double")).alias(
            "ratio"
        ),
    )
    w = Window.partitionBy("lang")
    rnk = j.select(
        "lang",
        "n_trigrams",
        F.row_number()
        .over(w.orderBy(F.col("ratio").desc(), F.col("doc_id")))
        .alias("r"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return (
        rnk.select(
            "lang",
            F.when(3 * F.col("r") <= F.col("n"), "head")
            .when(3 * F.col("r") <= 2 * F.col("n"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_trigrams",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_trigrams").cast("bigint").alias("trigrams_total"),
        )
        .orderBy("lang", "bucket")
    )


# ---------------------------------------------------------------------------
# text_sft_masking
# ---------------------------------------------------------------------------

_SFT_SYS = "You are a helpful assistant."
_SFT_U2 = "Quote the opening."
_SFT_A2P = "It opens: "
_IMS = "<|im_start|>"
_IME = "<|im_end|>"


def _sft_oracle() -> str:
    ims, ime = _IMS, _IME
    # fixed template piece lengths (chars)
    return f"""
WITH conv AS (
  SELECT doc_id,
    '{_SFT_SYS}' AS sys,
    'Describe document ' || CAST(doc_id AS VARCHAR) || ' in ' || lang
      || '.' AS u1,
    text AS a1,
    '{_SFT_U2}' AS u2,
    '{_SFT_A2P}' || substr(text, 1, 40) AS a2
  FROM documents WHERE text IS NOT NULL
), rendered AS (
  SELECT doc_id, a1, a2,
    '{ims}system' || chr(10) || sys || '{ime}' || chr(10)
    || '{ims}user' || chr(10) || u1 || '{ime}' || chr(10)
    || '{ims}assistant' || chr(10) || a1 || '{ime}' || chr(10)
    || '{ims}user' || chr(10) || u2 || '{ime}' || chr(10)
    || '{ims}assistant' || chr(10) || a2 || '{ime}' || chr(10) AS r,
    length('{ims}system' || chr(10) || sys || '{ime}' || chr(10)
      || '{ims}user' || chr(10) || u1 || '{ime}' || chr(10)
      || '{ims}assistant' || chr(10)) AS s1,
    length(a1) AS l1,
    length('{ims}system' || chr(10) || sys || '{ime}' || chr(10)
      || '{ims}user' || chr(10) || u1 || '{ime}' || chr(10)
      || '{ims}assistant' || chr(10) || a1 || '{ime}' || chr(10)
      || '{ims}user' || chr(10) || u2 || '{ime}' || chr(10)
      || '{ims}assistant' || chr(10)) AS s2,
    length(a2) AS l2
  FROM conv
), spans AS (
  SELECT doc_id, 1 AS turn, s1 AS mask_start, s1 + l1 AS mask_end,
    length(r) AS total_chars, md5(r) AS rendered_md5,
    CAST(substr(r, s1 + 1, l1) = a1 AS INT) AS span_ok
  FROM rendered
  UNION ALL
  SELECT doc_id, 2, s2, s2 + l2, length(r), md5(r),
    CAST(substr(r, s2 + 1, l2) = a2 AS INT)
  FROM rendered
)
SELECT doc_id, turn, CAST(mask_start AS BIGINT) AS mask_start,
  CAST(mask_end AS BIGINT) AS mask_end,
  CAST(total_chars AS BIGINT) AS total_chars, rendered_md5, span_ok
FROM spans ORDER BY doc_id, turn
"""


@register("text_sft_masking", oracle=_sft_oracle())
def text_sft_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y180: SFT chat-template rendering + loss-mask spans — the
    training-data-prep step AFTER curation that nothing in the
    registry covered: each document becomes a pinned-template 5-turn
    conversation (system/user/assistant/user/assistant, ChatML-style
    markers), and the entry emits the per-assistant-turn CHARACTER
    span [mask_start, mask_end) where loss applies — assistant
    content only, the standard SFT masking contract. Offsets are
    computed by LENGTH ARITHMETIC over the same concat pieces (the
    WARC offset doctrine — never by searching the rendered string),
    and an in-result identity proof rides every row:
    substr(rendered, start+1, len) == content, pinned TRUE by the
    oracle; rendered_md5 proves the full rendering without hauling
    it. Pure codegen concat/length/md5 — a free rider on the corpus
    scan at any scale."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    nl = "\n"
    conv = docs.select(
        "doc_id",
        F.lit(_SFT_SYS).alias("sys"),
        F.concat(
            F.lit("Describe document "),
            F.col("doc_id").cast("string"),
            F.lit(" in "),
            F.col("lang"),
            F.lit("."),
        ).alias("u1"),
        F.col("text").alias("a1"),
        F.lit(_SFT_U2).alias("u2"),
        F.concat(
            F.lit(_SFT_A2P), F.substring("text", 1, 40)
        ).alias("a2"),
    )

    def seg(role, body):
        return F.concat(
            F.lit(_IMS + role + nl), body, F.lit(_IME + nl)
        )

    pre1 = F.concat(
        seg("system", F.col("sys")),
        seg("user", F.col("u1")),
        F.lit(_IMS + "assistant" + nl),
    )
    mid = F.concat(
        F.col("a1"),
        F.lit(_IME + nl),
        seg("user", F.col("u2")),
        F.lit(_IMS + "assistant" + nl),
    )
    r = F.concat(pre1, mid, F.col("a2"), F.lit(_IME + nl))
    rendered = conv.select(
        "doc_id",
        "a1",
        "a2",
        r.alias("r"),
        F.length(pre1).alias("s1"),
        F.length("a1").alias("l1"),
        (F.length(pre1) + F.length(mid)).alias("s2"),
        F.length("a2").alias("l2"),
    )
    spans = rendered.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("turn"),
                    F.col("s1").alias("ms"),
                    (F.col("s1") + F.col("l1")).alias("me"),
                    F.col("a1").alias("content"),
                    F.col("l1").alias("ln"),
                ),
                F.struct(
                    F.lit(2).alias("turn"),
                    F.col("s2").alias("ms"),
                    (F.col("s2") + F.col("l2")).alias("me"),
                    F.col("a2").alias("content"),
                    F.col("l2").alias("ln"),
                ),
            )
        ).alias("sp"),
        "r",
    ).select(
        "doc_id",
        F.col("sp.turn").alias("turn"),
        F.col("sp.ms").cast("bigint").alias("mask_start"),
        F.col("sp.me").cast("bigint").alias("mask_end"),
        F.length("r").cast("bigint").alias("total_chars"),
        F.md5(F.col("r")).alias("rendered_md5"),
        (
            F.expr("substr(r, sp.ms + 1, sp.ln)") == F.col("sp.content")
        )
        .cast("int")
        .alias("span_ok"),
    )
    return spans.orderBy("doc_id", "turn")


# ---------------------------------------------------------------------------
# pack_sft_spans
# ---------------------------------------------------------------------------

#: Packed sequence length (chars of rendered conversation stream).
_PSFT_B = 2048
_PSFT_SHARDS = 2

# Template piece lengths — ONE Python source feeds both engines, so
# the offset arithmetic cannot drift from the Y180 template.
_L_SYS_HDR = len(_IMS + "system\n")
_L_USER_HDR = len(_IMS + "user\n")
_L_ASST_HDR = len(_IMS + "assistant\n")
_L_END = len(_IME + "\n")
_L_SYS = len(_SFT_SYS)
_L_U1_CONST = len("Describe document ") + len(" in ") + len(".")
_L_U2 = len(_SFT_U2)
_L_A2P = len(_SFT_A2P)


def _psft_oracle() -> str:
    from whisper_pandas_spark.operators.sampling import duck_hash_bucket

    B, S = _PSFT_B, _PSFT_SHARDS
    s1 = (
        f"{_L_SYS_HDR + _L_SYS + _L_END + _L_USER_HDR + _L_U1_CONST}"
        f" + length(CAST(doc_id AS VARCHAR)) + length(lang)"
        f" + {_L_END + _L_ASST_HDR}"
    )
    return f"""
WITH lens AS (
  SELECT doc_id, lang,
    ({duck_hash_bucket("doc_id")} % {S}) AS shard,
    {s1} AS s1,
    length(text) AS l1,
    ({s1}) + length(text)
      + {_L_END + _L_USER_HDR + _L_U2 + _L_END + _L_ASST_HDR} AS s2,
    {_L_A2P} + least(length(text), 40) AS l2
  FROM documents WHERE text IS NOT NULL
), docs_g AS (
  SELECT *, s2 + l2 + {_L_END} AS total,
    CAST(coalesce(sum(s2 + l2 + {_L_END}) OVER (
      PARTITION BY lang, shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS g0
  FROM lens
), spans AS (
  SELECT doc_id, lang, shard, 1 AS turn, g0 + s1 AS gs,
    g0 + s1 + l1 AS ge FROM docs_g WHERE l1 > 0
  UNION ALL
  SELECT doc_id, lang, shard, 2, g0 + s2, g0 + s2 + l2 FROM docs_g
), frags AS (
  SELECT lang, shard, CAST(sq AS BIGINT) AS seq_id, doc_id, turn,
    CAST(greatest(gs, sq * {B}) - sq * {B} AS BIGINT) AS frag_start,
    CAST(least(ge, (sq + 1) * {B}) - sq * {B} AS BIGINT) AS frag_end
  FROM spans, unnest(range(gs // {B}, (ge - 1) // {B} + 1)) AS t(sq)
)
SELECT lang, CAST(shard AS INT) AS shard, seq_id, doc_id, turn,
  frag_start, frag_end
FROM frags
ORDER BY lang, shard, seq_id, doc_id, turn, frag_start
"""


@register("pack_sft_spans", oracle=_psft_oracle())
def pack_sft_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y181: PACKED-SFT loss-mask clipping — the composition of
    [[Y180]]'s spans with the packing stage: rendered conversations
    concatenate per (lang, shard) stream (the pack_sequences window
    cumsum), the stream chops into fixed {_PSFT_B}-char sequences,
    and every assistant span CLIPS against sequence boundaries into
    1+ (seq_id, frag_start, frag_end) fragments — the arithmetic real
    packed SFT training needs (masks must never bleed across packed
    sequence boundaries). All offsets derive from ONE Python constant
    table + length(text)/length(lang) — pure integer interval
    arithmetic, no rendered strings ever built, no search (the WARC
    offset doctrine at its purest). Empty assistant spans (l=0) carry
    no loss and are excluded, which also keeps the sequence() bounds
    ascending. Conservation (fragment lengths sum to span length) is
    pytest-pinned. Scale: one window cumsum per (lang, shard) + a
    bounded explode (span_len/{_PSFT_B} + 1 fragments)."""
    from whisper_pandas_spark.operators.sampling import hash_bucket

    B, S = _PSFT_B, _PSFT_SHARDS
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    s1 = (
        F.lit(_L_SYS_HDR + _L_SYS + _L_END + _L_USER_HDR + _L_U1_CONST)
        + F.length(F.col("doc_id").cast("string"))
        + F.length("lang")
        + F.lit(_L_END + _L_ASST_HDR)
    )
    lens = docs.select(
        "doc_id",
        "lang",
        (hash_bucket(F.col("doc_id")) % S).alias("shard"),
        s1.alias("s1"),
        F.length("text").alias("l1"),
        (
            s1
            + F.length("text")
            + F.lit(_L_END + _L_USER_HDR + _L_U2 + _L_END + _L_ASST_HDR)
        ).alias("s2"),
        (F.lit(_L_A2P) + F.least(F.length("text"), F.lit(40))).alias(
            "l2"
        ),
    ).withColumn("total", F.col("s2") + F.col("l2") + F.lit(_L_END))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    docs_g = lens.withColumn(
        "g0", F.coalesce(F.sum("total").over(w), F.lit(0))
    )
    span1 = docs_g.filter(F.col("l1") > 0).select(
        "doc_id",
        "lang",
        "shard",
        F.lit(1).alias("turn"),
        (F.col("g0") + F.col("s1")).alias("gs"),
        (F.col("g0") + F.col("s1") + F.col("l1")).alias("ge"),
    )
    span2 = docs_g.select(
        "doc_id",
        "lang",
        "shard",
        F.lit(2).alias("turn"),
        (F.col("g0") + F.col("s2")).alias("gs"),
        (F.col("g0") + F.col("s2") + F.col("l2")).alias("ge"),
    )
    spans = span1.unionByName(span2)
    frags = spans.select(
        "lang",
        F.col("shard").cast("int").alias("shard"),
        F.explode(
            F.sequence(
                F.expr(f"gs div {B}"), F.expr(f"(ge - 1) div {B}")
            )
        ).alias("seq_id"),
        "doc_id",
        "turn",
        "gs",
        "ge",
    ).select(
        "lang",
        "shard",
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "doc_id",
        "turn",
        (
            F.greatest(F.col("gs"), F.col("seq_id") * B)
            - F.col("seq_id") * B
        )
        .cast("bigint")
        .alias("frag_start"),
        (
            F.least(F.col("ge"), (F.col("seq_id") + 1) * B)
            - F.col("seq_id") * B
        )
        .cast("bigint")
        .alias("frag_end"),
    )
    return frags.orderBy(
        "lang", "shard", "seq_id", "doc_id", "turn", "frag_start"
    )
