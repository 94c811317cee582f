"""Interpolated Kneser–Ney trigram language model — trained on the
corpus and scoring every document, in one plan (Kneser & Ney 1995;
the interpolated formulation per Chen & Goodman 1998 §2.7 with a fixed
absolute discount).

Extension beyond the reference (no text surface). The quality signal
CCNet-class pipelines filter on is LM perplexity (they use a KenLM
5-gram; this is the honest in-engine trigram variant): documents whose
text the corpus LM finds improbable are boilerplate/gibberish
candidates. The existing `text_lm_bigram_score` is an MLE bigram; this
adds the real smoothing machinery — absolute discounting,
CONTINUATION counts for the lower orders (the KN insight: "how many
contexts does this word complete?" not "how often does it occur?"),
and two-level interpolation.

Model (discount D fixed, trigram order):

  P(w3|w1,w2) = max(c(w1w2w3) - D, 0) / c(w1w2·)
              + D · N1+(w1w2·) / c(w1w2·) · P(w3|w2)
  P(w3|w2)    = max(N1+(·w2w3) - D, 0) / N1+(·w2·)
              + D · N1+(w2·) / N1+(·w2·) · Pc(w3)
  Pc(w3)      = N1+(·w3) / |distinct bigram types|

where every count comes from the padded trigram stream
(<s> <s> w1 … wn </s>), so every scored trigram's context has a
non-zero denominator by construction (the corpus scores itself — the
training-data-pipeline use; held-out scoring would add OOV floors).

Scale shape:

- the trigram stream is the winnowing idiom: posexplode + two lead()
  columns over one (doc, pos) window — codegen, one exchange;
- all SIX count tables are grouped aggregates of that stream
  (map-side partial aggs; results are VOCAB-bounded, orders of
  magnitude below corpus scale);
- scoring joins the stream back to the count tables on their keys —
  plain hash joins whose build sides are the vocab-bounded tables;
- per-document reduction is one groupBy(doc) ORDER-PINNED ln-p fold;
- the stream and the c123 root table materialize once (stage
  barriers) — seven consumers otherwise re-derive the corpus
  lineage.

Determinism: all counts are exact BIGINTs; each probability is a fixed
left-to-right arithmetic tree over exact operands (bit-identical IEEE
on both engines); ln + round(6) follows the BM25 precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

KN_DISCOUNT = 0.75
BOS = "<s>"
EOS = "</s>"


def trigram_stream(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, w1, w2, w3) — padded trigram stream, one row per
    scored position (pos = index of w3 in the padded sequence)."""
    padded = F.expr(
        f"concat(array('{BOS}', '{BOS}'),"
        f" filter(split(trim(regexp_replace(lower({text_col}),"
        f" '[^a-z0-9]+', ' ')), ' '), t -> t != ''),"
        f" array('{EOS}'))"
    )
    toks = df.select(
        F.col(id_col), F.posexplode(padded).alias("pos", "w")
    )
    spec = Window.partitionBy(id_col).orderBy("pos")
    out = toks.select(
        F.col(id_col),
        (F.col("pos") + 2).alias("pos"),
        F.col("w").alias("w1"),
        F.lead("w", 1).over(spec).alias("w2"),
        F.lead("w", 2).over(spec).alias("w3"),
    ).filter(F.col("w3").isNotNull())
    return out


def kn_trigram_score(
    df: DataFrame, id_col: str, text_col: str, discount: float = KN_DISCOUNT
) -> DataFrame:
    """Per-document interpolated-KN log-probability:
    ``(id, n_trigrams, logprob)`` with logprob = round(sum ln P, 6).

    Documents with no tokens still produce the two padding trigrams
    (<s> <s> </s> is not formed — a token-less doc yields exactly one
    trigram (<s>, <s>, </s>)), so every input row has an output row.
    """
    # eager stage barrier: the stream feeds SEVEN consumers (six count
    # tables + the scoring join) — without it each one re-derives the
    # tokenize/window lineage, i.e. seven corpus scans (the
    # pipeline_corpus_end_to_end lesson; checkpoint blocks GC-release
    # with the frame, unlike persist)
    tri = stage_materialize(trigram_stream(df, id_col, text_col))
    grams = tri.select("w1", "w2", "w3")

    # c123 is the vocab-bounded root of every other count table —
    # materialize it once instead of re-aggregating the stream 5x
    c123 = stage_materialize(
        grams.groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c123"))
    )
    return kn_score_from_counts(tri, c123, id_col, discount)


def kn_score_from_counts(
    tri: DataFrame,
    c123: DataFrame,
    id_col: str,
    discount: float = KN_DISCOUNT,
) -> DataFrame:
    """Score a trigram stream against an EXTERNAL trigram count table
    (same readout as :func:`kn_trigram_score`, which passes its own
    corpus counts). The count table is the root state a streaming
    maintainer keeps (streaming/sketches.py:stream_kn_counts_update —
    additive merge, exactly-once), so live-maintained statistics score
    exactly like a batch rebuild when the counts agree.

    PRECONDITION (round-13 ADVICE): *c123* must COVER *tri* — every
    scored trigram must appear in the count table. The scoring join is
    an INNER join, so an uncovered trigram is silently dropped:
    ``n_trigrams`` undercounts and ``logprob`` is inflated (it sums
    fewer terms). That is the correct contract for the shipped callers
    (``kn_trigram_score`` derives counts from the same stream;
    ``stream_kn_replay`` scores only after the maintainer has absorbed
    the batch), but a caller scoring a NEWER batch against LAGGING
    streamed counts must either wait for the maintainer to catch up or
    pre-filter the stream to covered trigrams. Use
    :func:`assert_counts_cover` to verify coverage when in doubt (it
    costs one anti-join aggregate, so it is opt-in rather than inlined
    here)."""
    d = float(discount)
    ctx12 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12"),
        F.count(F.lit(1)).alias("n1p_12dot"),  # distinct w3 per (w1,w2)
    )
    # lower orders use CONTINUATION counts (the KN insight), all derived
    # from the trigram-type table:
    # N1+(-w2w3): distinct w1 preceding (w2,w3)
    n1p_dot23 = c123.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).alias("n1p_dot23")
    )
    # N1+(-w2-): distinct (w1, w3) around w2; N1+(w2-): distinct w3 after w2
    mid = c123.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n1p_dot2dot"),
        F.countDistinct("w3").alias("n1p_2dot"),
    )
    # Pc(w3) = N1+(-w3) / |distinct (w2, w3) types|
    cont = n1p_dot23.groupBy("w3").agg(
        F.count(F.lit(1)).alias("n1p_dotw3")
    )
    n_types = n1p_dot23.agg(
        F.count(F.lit(1)).alias("n_bigram_types")
    )

    # P(w3|w1,w2) is a function of the trigram TYPE alone, so the whole
    # probability assembles on the VOCAB-bounded c123 table — the five
    # count-table joins run type-sized, and the corpus-sized stream
    # pays exactly ONE join against the finished (type -> ln p) table
    # (round 14, guide §2.3/§2.4: join the big side once, on the
    # smallest possible build table; arithmetic unchanged expression-
    # for-expression, so every lp bit matches the former five-join
    # formulation).
    typ = (
        c123.join(ctx12, ["w1", "w2"])
        .join(n1p_dot23, ["w2", "w3"])
        .join(mid, ["w2"])
        .join(cont, ["w3"])
        .crossJoin(F.broadcast(n_types))
    )
    pc = F.col("n1p_dotw3").cast("double") / F.col("n_bigram_types").cast(
        "double"
    )
    p2 = (
        F.greatest(F.col("n1p_dot23").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("n1p_dot2dot").cast("double")
        + F.lit(d)
        * F.col("n1p_2dot").cast("double")
        / F.col("n1p_dot2dot").cast("double")
        * pc
    )
    p3 = (
        F.greatest(F.col("c123").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("c12").cast("double")
        + F.lit(d)
        * F.col("n1p_12dot").cast("double")
        / F.col("c12").cast("double")
        * p2
    )
    typ_lp = typ.select("w1", "w2", "w3", F.log(p3).alias("lp"))
    scored = tri.join(typ_lp, ["w1", "w2", "w3"])
    # per-doc reduction: ORDER-PINNED fold over (pos, ln p) — a plain
    # sum() of doubles is partial-agg-order-dependent and would flip
    # last-ulp bits between engines/partitionings (the repo-wide
    # bit-parity rule; decontam_semantic precedent)
    return (
        scored.select(F.col(id_col), F.col("pos"), F.col("lp"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.expr(
                "round(aggregate(array_sort(collect_list(struct(pos, lp))),"
                " cast(0.0 as double), (acc, s) -> acc + s.lp), 6)"
            ).alias("logprob"),
        )
    )


def assert_counts_cover(tri: DataFrame, c123: DataFrame) -> None:
    """Raise ``ValueError`` if the trigram stream *tri* contains any
    trigram absent from the count table *c123* (the
    :func:`kn_score_from_counts` coverage precondition).

    One left-anti join + count — a bounded driver read (a scalar), run
    opt-in by callers whose counts come from an external/streaming
    source that might lag the scored batch.
    """
    missing = (
        tri.select("w1", "w2", "w3")
        .distinct()
        .join(c123.select("w1", "w2", "w3"), ["w1", "w2", "w3"], "left_anti")
        .count()
    )
    if missing:
        raise ValueError(
            f"kn_score_from_counts coverage violated: {missing} trigram "
            "type(s) in the scored stream are absent from the count table "
            "— scores would silently drop them (inflated logprob). Wait "
            "for the count maintainer to absorb the batch or pre-filter "
            "the stream."
        )
