"""T5-style span corruption (Raffel et al. 2020 §3.1.4): mask
contiguous token spans, replace each with a sentinel, emit the
(corrupted input, target) pair — the seq2seq pre-training objective's
data-prep step.

Extension beyond the reference (no text surface). Completes the
training-data story the packing/tokenizer operators start: documents
-> tokens -> (inputs, targets) pairs ready for an encoder-decoder
trainer.

Determinism (the repo's no-RNG-state rule): T5 samples span starts
iid; a distributed, engine-replayable variant must not depend on RNG
state or row order, so spans here are BLOCK-randomized — positions
partition into fixed blocks of ``block`` tokens, and each block masks
one span of ``span_len`` tokens at offset ``md5(doc:block) %
(block - span_len + 1)``. This yields the same corruption RATE
(span_len / block, default 3/20 = 15%, T5's rate) with per-doc
placement driven by the md5 family — a pure function of (doc id, block
index) that any engine reproduces, spans never overlap by
construction, and every doc/epoch re-derives identically (resume-safe).

Output convention (T5): the input keeps unmasked tokens with one
``<X_k>`` sentinel per masked span (k = block index — unique within
the doc); the target is the concatenation of ``<X_k>`` + the masked
tokens, ending with ``<EOS>``.

Scale shape: ONE zero-shuffle ARROW pass (mapInPandas, round 13 — the
previous form was a chain of higher-order transform/filter lambdas,
CodegenFallback-interpreted per TOKEN, the second-largest per-row CPU
tax at the sf1 stress: 17.7 s). The Arrow pass keeps the same shape (a
document never leaves its partition) with the per-token work reduced
to C-speed list slicing: every full block masks exactly one CONTIGUOUS
span, so both output sequences assemble block-by-block (slice, extend,
one sentinel append) and each output string is a single ``' '.join``;
only the ~n/block md5 offsets per document run as Python calls.
Semantics are unchanged — the DuckDB oracle
replays the identical block arithmetic, md5 offsets, and sequence
construction (queries_text._span_oracle), and pytest pins the
Arrow output against a brute-force Python twin.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from whisper_pandas_spark.functions.hashing import HASH_HEX_CHARS, py_md5_int

BLOCK = 20
SPAN_LEN = 3
EOS_TOKEN = "<eos>"

#: the tokenizer twin of functions/text.tokenize: lower, collapse
#: non-alphanumeric runs to single spaces, split (ASCII-equivalent to
#: the Java/DuckDB regex forms; fixtures are ASCII)
_NON_ALNUM = re.compile("[^a-z0-9]+")


def _offset(doc_id, blk: int, space: int) -> int:
    """md5-driven span offset within a block, ``space = block - span_len
    + 1``: the 60-bit hash of 'span:<doc>:<blk>' mod *space* (the DuckDB
    oracle replays it as ``hash64 % space``)."""
    return py_md5_int(f"span:{doc_id}:{blk}", HASH_HEX_CHARS) % space


def span_corrupt(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block: int = BLOCK,
    span_len: int = SPAN_LEN,
) -> DataFrame:
    """(id, n_tokens, n_masked, n_spans, input_text, target_text).

    Only FULL blocks mask a span (a trailing partial block stays
    unmasked — the deterministic analogue of T5 dropping a partial
    span), so ``n_masked = n_spans * span_len`` exactly.
    """
    if not (0 < span_len < block):
        raise ValueError(f"need 0 < span_len < block, got {span_len}/{block}")
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    space = block - span_len + 1

    def one(doc_id, text: str):
        toks = _NON_ALNUM.sub(" ", text.lower()).strip(" ").split(" ")
        if toks == [""]:
            toks = []
        n = len(toks)
        nfull = n // block
        if nfull == 0:
            # no full block -> nothing masked
            return n, 0, 0, " ".join(toks), EOS_TOKEN
        # every FULL block masks exactly one contiguous span, so both
        # sequences assemble block-by-block with C-speed list slicing —
        # the only per-block Python work is the md5 offset
        inp: list[str] = []
        tgt: list[str] = []
        prev = 0
        for b in range(nfull):
            s = b * block + _offset(doc_id, b, space)
            sent = f"<X_{b + 1}>"
            inp.extend(toks[prev:s])
            inp.append(sent)
            tgt.append(sent)
            tgt.extend(toks[s : s + span_len])
            prev = s + span_len
        inp.extend(toks[prev:])
        return (
            n,
            nfull * span_len,
            nfull,
            " ".join(inp),
            " ".join(tgt) + " " + EOS_TOKEN,
        )

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cols = {
                "n_tokens": [],
                "n_masked": [],
                "n_spans": [],
                "input_text": [],
                "target_text": [],
            }
            for doc_id, text in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                nt, nm, ns, it, tt = one(doc_id, text or "")
                cols["n_tokens"].append(nt)
                cols["n_masked"].append(nm)
                cols["n_spans"].append(ns)
                cols["input_text"].append(it)
                cols["target_text"].append(tt)
            yield pd.DataFrame({id_col: pdf.iloc[:, 0], **cols})

    from pyspark.sql import functions as F

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        run,
        f"{id_col} {id_type}, n_tokens int, n_masked int, n_spans int,"
        " input_text string, target_text string",
    )
