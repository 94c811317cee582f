"""Deduplication operator family (SURVEY.md §2.10 X1/X2).

The reference (`whisper_pandas.py`) has no dedup — its nearest semantic is
last-write-wins per ring slot (`whisper_pandas.py:201-215`, slot overwrite).
This module supplies the dedup surface a 100 TB training-data pipeline
needs, Spark-first:

- **exact_dedup** — content-hash groupBy. One shuffle on a uniformly
  distributed sha2 digest: no skew by construction, map-side partial agg,
  scales linearly with executors.
- **minhash_lsh_pairs** — MinHash signatures (shuffle-free, per-row,
  whole-stage-codegen md5 family from `functions.hashing`) → banded LSH
  bucketing (shuffle keyed on (band, band_hash) — rows are tiny
  (doc_id + 2 ints), so the shuffle is O(num_bands × docs), NOT O(text)) →
  candidate pairs by self-join within buckets → exact Jaccard verification
  on the candidates only. This is the canonical sub-quadratic near-dup
  join: all-pairs O(n²) work never happens; only bucket-collision pairs are
  verified.
- **simhash** — 60-bit charge/discharge fingerprint computed with
  higher-order `aggregate` over the token-hash array: zero shuffles, zero
  Python. Near-dup pairs via the pigeonhole band trick (hamming ≤ k over
  4 bands ⟹ ≥ 1 band identical) then `bit_count(xor) ≤ k` verification.
- **ngram_jaccard_pairs** — exact n-gram Jaccard restricted to a blocking
  key (lang, length bucket): the honest "small" baseline the LSH paths are
  validated against.

Skew guard: LSH buckets over-populated by degenerate content (e.g. empty
docs) explode the within-bucket self-join quadratically. `lsh_pairs`
(and, when asked, `hamming_band_join` for every hamming near-dup operator)
drops buckets larger than `max_bucket` (configurable) — the standard
recall/cost trade; at 100 TB you would log and route such buckets to the
exact path keyed by content hash instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from whisper_pandas_spark.functions.hashing import (
    HASH_HEX_CHARS,
    base_hash32,
    hash64,
    py_md5_int,
)
from whisper_pandas_spark.functions.text import (
    MINHASH_P,
    minhash_perm_constants,
    tokenize,
    word_shingles,
)
from whisper_pandas_spark.stage import stage_materialize

SIMHASH_BITS = 4 * HASH_HEX_CHARS  # 60


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest id per distinct text; report group size.

    Deterministic representative choice (min id) — `dropDuplicates` would be
    nondeterministic under parallel scan order.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_perm: int, shingle_n: int = 3
) -> DataFrame:
    """id + MinHash signature array (one min-hash per permutation).

    Entirely narrow (no shuffle). Cost profile matters: higher-order
    lambdas are interpreted (CodegenFallback), so we pay ONE md5 per
    shingle (32-bit base hash, materialized in its own projection) and
    derive all permutations with the universal-hash family
    h_i = (a_i·h + b_i) mod 2^61-1 — the datasketch construction, ~12×
    cheaper than per-seed cryptographic hashing and equally
    DuckDB-replicable. Docs with no shingles are dropped (they cannot
    near-dup by shingle overlap).
    """
    # Materialize tokens BEFORE shingling (see word_shingles perf contract).
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize(text_col).alias("toks")
    )
    hashed = (
        toks.select(
            "doc_id", word_shingles(F.col("toks"), shingle_n).alias("shingles")
        )
        .filter(F.size("shingles") > 0)
        .select(
            "doc_id",
            "shingles",
            F.transform(F.col("shingles"), lambda s: base_hash32(s)).alias("hh"),
        )
    )

    # NB: factory closure, NOT `lambda h, a=a: ...` — PySpark counts every
    # parameter (defaults included) as a lambda variable, so a defaulted
    # second arg silently becomes transform's index Column.
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("hh"), perm(a, b)))
            for a, b in minhash_perm_constants(num_perm)
        ]
    )
    return hashed.select(
        "doc_id", F.array_distinct("hh").alias("hh"), sig.alias("sig")
    )


def _spread(src: DataFrame) -> DataFrame:
    """Give an Arrow (mapInPandas) stage real parallelism when the scan
    didn't: a small parquet file arrives as ONE partition, which would run
    the whole Python stage on one worker (measured 2× on the sf0.1
    signature pass). Round-robin up to the session's default parallelism —
    a tiny shuffle of (id, text) rows, and every downstream result here is
    partition-layout independent (verified at 3/8/32-shuffle geometries).
    At real scale the scan already arrives wide and this is a no-op."""
    target = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < min(target, 8):
        return src.repartition(min(target, 8))
    return src


def _with_id_mask(df: DataFrame, id_col: str, *cols) -> DataFrame:
    """``(_id, _id_null, *cols)`` for an Arrow pass: the id with NULL
    coalesced to 0, and its NULL mask. A NULL in a long column would reach
    pandas as float64 and round every id above 2^53 in its batch; read the
    pair back with :func:`_batch_ids`."""
    return df.select(
        F.coalesce(F.col(id_col), F.lit(0)).alias("_id"),
        F.col(id_col).isNull().alias("_id_null"),
        *cols,
    )


def _batch_ids(pdf):
    """A batch's ids as a nullable Int64 array, NULLs restored."""
    import pandas as pd

    ids = pd.array(pdf["_id"], dtype="Int64")
    ids[pdf["_id_null"].to_numpy()] = pd.NA
    return ids


def minhash_signature_arrow(
    df: DataFrame, id_col: str, text_col: str, num_perm: int, shingle_n: int = 3
) -> DataFrame:
    """Arrow-batched MinHash — same contract and EXACT same values as
    :func:`minhash_signature`, ~10× faster.

    Why a Pandas UDF here: the expression version is correct but every
    higher-order lambda is CodegenFallback (interpreted per element), and
    profiling at sf0.1 showed ~13 s for 5 000 docs — pure interpreter
    overhead, not I/O. This mapInPandas path does the per-doc work in
    Python (hashlib md5 per shingle — the identical hash family) with the
    num_perm universal-hash permutations vectorized in numpy, and moves
    data via Arrow batches. It is embarrassingly parallel and shuffle-free:
    at 100 TB it scales with cores exactly like the scan.

    Output: (doc_id, hh: array<bigint> distinct shingle hashes,
    sig: array<bigint> minhash signature).
    """
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd

    consts = minhash_perm_constants(num_perm)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    n = shingle_n

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        non_alnum = re.compile(r"[^a-z0-9]+")
        for pdf in batches:
            ids, hhs, sigs = [], [], []
            for doc_id, text in zip(_batch_ids(pdf), pdf["_text"]):
                if text is None:
                    continue  # expr path: size(NULL shingles) > 0 filter drops it
                toks = non_alnum.sub(" ", str(text).lower()).strip().split(" ")
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                hh = np.fromiter(
                    (py_md5_int(s, 8) for s in shingles),
                    dtype=np.int64,
                    count=len(shingles),
                )
                hh = np.unique(hh)  # md5-prefix collisions: keep set semantics
                # a < 2^30, h < 2^32, b < 2^61 => a*h + b < 2^63 (no overflow)
                sig = ((A * hh[None, :] + B) % MINHASH_P).min(axis=1)
                ids.append(doc_id)
                hhs.append(hh.tolist())
                sigs.append(sig.tolist())
            if ids:  # an all-skipped batch would yield untyped empty
                # columns that Arrow can't map to array<long>
                yield pd.DataFrame(
                    {"doc_id": pd.array(ids, dtype="Int64"), "hh": hhs, "sig": sigs}
                )

    src = _spread(_with_id_mask(df, id_col, F.col(text_col).alias("_text")))
    return src.mapInPandas(
        compute, "doc_id long, hh array<long>, sig array<long>"
    )


def lsh_pairs(
    sig_df: DataFrame,
    bands: int,
    rows: int,
    jaccard_threshold: float,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH candidate pairs + exact Jaccard verification.

    sig_df: output of :func:`minhash_signature` / `minhash_signature_arrow`
    (doc_id, hh, sig with len == bands*rows). Returns (doc_i, doc_j,
    jaccard over hashed shingle sets) with doc_i < doc_j and jaccard >=
    threshold.

    The caller should `.persist()` sig_df: it is consumed three times
    (bucket generation + both sides of the verification join), and the
    signature subtree is the expensive part of the pipeline. At cluster
    scale the equivalent is materializing signatures to storage once —
    the standard shape of a production MinHash pipeline.
    """
    # Single pass over sig_df: all band keys as one array, then posexplode —
    # NOT a bands-way union (which would re-evaluate the signature subtree
    # once per band).
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)],
                )
            )
            for b in range(bands)
        ]
    )
    bucketed = sig_df.select(
        "doc_id", F.posexplode(band_keys).alias("band", "bkey")
    )

    # Skew guard: drop degenerate buckets before the quadratic self-join.
    sized = bucketed.withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy("band", "bkey")),
    ).filter(F.col("bucket_n") <= max_bucket)

    left = sized.select("band", "bkey", F.col("doc_id").alias("doc_i"))
    right = sized.select("band", "bkey", F.col("doc_id").alias("doc_j"))
    cand = (
        left.join(right, ["band", "bkey"])
        .filter(F.col("doc_i") < F.col("doc_j"))
        .select("doc_i", "doc_j")
        .distinct()
    )

    # Verification joins ship the hashed shingle SETS (8 bytes/shingle),
    # not the shingle strings — a ~4× lighter shuffle payload with
    # identical Jaccard (md5-prefix collisions are applied consistently on
    # both engines).
    sh = sig_df.select("doc_id", "hh")
    a = sh.select(F.col("doc_id").alias("doc_i"), F.col("hh").alias("sh_i"))
    b = sh.select(F.col("doc_id").alias("doc_j"), F.col("hh").alias("sh_j"))
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size(F.array_union("sh_i", "sh_j"))
    jac = inter.cast("double") / union.cast("double")
    return (
        cand.join(a, "doc_i")
        .join(b, "doc_j")
        .select("doc_i", "doc_j", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def simhash_from_hashes(hashes: Column) -> Column:
    """60-bit SimHash from a token-hash array — one expression, no shuffle.

    bit b of the fingerprint is 1 iff Σ_tokens (±1 by token-hash bit b) > 0.
    Frequency-weighted (duplicate tokens vote repeatedly), the classic
    Charikar construction. Callers must MATERIALIZE the hash array in its
    own projection first (see :func:`simhash_df`) so the md5 family is
    evaluated once per row, not once per bit.
    """
    def bit_vote(b: int):
        # factory closure: see perm_hash note in minhash_signature
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    total = F.lit(0).cast("bigint")
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(hashes, F.lit(0).cast("bigint"), bit_vote(b))
        total = total + F.when(vote > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return total


def simhash_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, simhash) — hash array materialized once, then 60 bit votes."""
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokenize(text_col), lambda t: hash64(t)).alias("hashes"),
    )
    return hashed.select(
        "doc_id", simhash_from_hashes(F.col("hashes")).alias("simhash")
    )


def simhash_arrow(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Arrow-batched SimHash — same values as :func:`simhash_df`, ~20×
    faster (the 60 interpreted bit-vote folds cost ~6 s for 5 000 docs at
    sf0.1; numpy does the bit matrix in microseconds per doc). Tokenize +
    md5 match functions.text/hashing exactly; equality is regression-tested."""
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        non_alnum = re.compile(r"[^a-z0-9]+")
        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in batches:
            ids, out = [], []
            for doc_id, text in zip(_batch_ids(pdf), pdf["_text"]):
                if text is None:
                    # expr path: votes over a NULL token array never pass
                    # the > 0 test, so the fingerprint is 0 — mirror it
                    ids.append(doc_id)
                    out.append(0)
                    continue
                toks = non_alnum.sub(" ", str(text).lower()).strip().split(" ")
                hs = np.fromiter(
                    (py_md5_int(t, HASH_HEX_CHARS) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts) & 1          # (n_tokens, 60)
                votes = (2 * bits - 1).sum(axis=0)           # ±1 votes
                sim = int(((votes > 0).astype(np.int64) << shifts).sum())
                ids.append(doc_id)
                out.append(sim)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": pd.array(ids, dtype="Int64"), "simhash": out}
                )

    src = _spread(_with_id_mask(df, id_col, F.col(text_col).alias("_text")))
    return src.mapInPandas(compute, "doc_id long, simhash long")


def shingle_hashes_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, hh[, carry...]) — distinct 32-bit shingle hashes per doc,
    Arrow path.

    Same tokenize/md5 family as functions.text/hashing (and the same values as the
    expression pipeline); exists because interpreted shingle generation
    alone costs ~13 s at sf0.1 while this pass is sub-second.

    ``carry_cols`` ride through the Arrow batch unchanged (values copied
    row-for-row), so a caller that needs e.g. a blocking key alongside the
    hashes does not pay a corpus-sized self-join to re-attach it.
    """
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd

    n = shingle_n

    carry = tuple(carry_cols)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        non_alnum = re.compile(r"[^a-z0-9]+")
        for pdf in batches:
            ids, hhs = [], []
            extras: list[list] = [[] for _ in carry]
            for doc_id, text, *rest in zip(
                _batch_ids(pdf), pdf["_text"], *(pdf[c] for c in carry)
            ):
                if text is None:
                    continue  # expr path drops NULL-text docs
                toks = non_alnum.sub(" ", str(text).lower()).strip().split(" ")
                if len(toks) < n:
                    continue
                shingles = {
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                }
                hh = np.unique(
                    np.fromiter(
                        (py_md5_int(s, 8) for s in shingles),
                        dtype=np.int64,
                        count=len(shingles),
                    )
                )
                ids.append(doc_id)
                hhs.append(hh.tolist())
                for lst, v in zip(extras, rest):
                    lst.append(v)
            if ids:
                out = {"doc_id": pd.array(ids, dtype="Int64"), "hh": hhs}
                out.update(dict(zip(carry, extras)))
                yield pd.DataFrame(out)

    src = _spread(
        _with_id_mask(
            df, id_col, F.col(text_col).alias("_text"), *(F.col(c) for c in carry)
        )
    )
    schema = "doc_id long, hh array<long>" + "".join(
        f", `{c}` {df.schema[c].dataType.simpleString()}" for c in carry
    )
    return src.mapInPandas(compute, schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float,
    shingle_n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via an INVERTED INDEX join.

    The naive blocked all-pairs (array_intersect per pair) is interpreter-
    bound: measured 102 s at sf0.1 (2.4 M pairs × ~44-element arrays).
    The inverted index is the scalable formulation: explode to
    (block, shingle-hash, doc) postings, self-join on the posting key
    (pairs materialize ONLY when they share a shingle), count shared
    shingles per pair, then jaccard = c / (n_i + n_j − c). Every step is a
    codegen hash join / hash agg — no higher-order functions in the hot
    path. 0.9 s at sf0.1, identical output.

    ``max_df`` is the 100 TB skew guard: posting keys held by more than
    max_df documents (stop-shingles — boilerplate headers, "terms of
    service") explode the self-join quadratically, so they are dropped
    from the INDEX before the join. Capped shingles still count in
    |set_i| and |set_j| but not in the observed intersection, so the
    computed jaccard becomes a LOWER BOUND — recall loss only, never
    false positives. Default None keeps exact semantics.
    """
    # block rides the Arrow batch itself (carry_cols) — re-attaching it
    # via a corpus-sized doc_id self-join was a full second scan + join
    # at 100 TB for a column the shingler already had in hand
    hashed = (
        shingle_hashes_arrow(
            df, id_col, text_col, shingle_n, carry_cols=(block_col,)
        )
        .withColumnRenamed(block_col, "block")
        .persist()
    )
    sizes = hashed.select("doc_id", F.size("hh").alias("n"))
    posting = hashed.select("block", "doc_id", F.explode("hh").alias("h"))
    if max_df is not None:
        posting = posting.withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("block", "h")),
        ).filter(F.col("df") <= max_df).drop("df")
    shared = (
        posting.alias("a")
        .join(posting.alias("b"), ["block", "h"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .groupBy("doc_i", "doc_j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ni = sizes.select(F.col("doc_id").alias("doc_i"), F.col("n").alias("n_i"))
    nj = sizes.select(F.col("doc_id").alias("doc_j"), F.col("n").alias("n_j"))
    jac = F.round(
        F.col("c").cast("double")
        / (F.col("n_i") + F.col("n_j") - F.col("c")).cast("double"),
        6,
    )
    out = (
        shared.join(ni, "doc_i")
        .join(nj, "doc_j")
        .select("doc_i", "doc_j", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    out._wps_cached = [hashed]  # release via release_cached(out)
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the 60 bits into 4 bands of 15; hamming ≤ 3
    guarantees at least one identical band, so joining on any-band-equal
    has NO false negatives — the banded result provably equals the O(n²)
    brute force (which is exactly what the DuckDB oracle computes,
    making this an independent-algorithm check, not a replication).
    Verification is `bit_count(xor) <= k`.

    ``max_bucket`` is the skew guard for cluster scale (same knob as
    :func:`lsh_pairs`): 15-bit bands have only 32 Ki distinct keys, so at
    billions of docs every band key is a dense bucket and the self-join
    goes quadratic. Capping drops degenerate buckets BEFORE the join —
    trading recall (documented, observable) for a bounded pair count.
    Default ``None`` keeps the exact no-false-negative guarantee.
    """
    # Arrow fingerprints, persisted (consumed by both join sides)
    base = simhash_arrow(df, id_col, text_col).persist()
    return hamming_band_join(base, "simhash", 4, 15, max_hamming, max_bucket)


def hamming_band_join(
    base: DataFrame,
    hash_col: str,
    bands: int,
    bits: int,
    max_hamming: int | None,
    max_bucket: int | None = None,
    keys: tuple[str, ...] = (),
    other: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The pigeonhole band join over integer fingerprints — the one
    blocking step behind every hamming near-dup operator.

    Band b of a fingerprint is ``(h >>> b*bits) & (2^bits - 1)``; two
    fingerprints within hamming ``bands - 1`` share at least one band, so
    joining on any-band-equal (plus the extra equality *keys*, e.g.
    ``frame_idx``) has no false negatives up to that distance. The bands
    come from one ``posexplode`` pass (a per-band union would recompute
    the fingerprint subtree once per band). The shift is unsigned, so a
    sign bit in a 64-bit hash is harmless.

    Self-join (*other* None): rows ``(doc_i, doc_j, hamming)`` from
    *id_col* with ``doc_i < doc_j``; the caller persists *base*, which
    feeds both sides. With *other*, ``doc_i`` comes from *base* and
    ``doc_j`` from *other*, unordered. *base* is attached to the result as
    ``_wps_cached`` for :func:`release_cached`. ``hamming = bit_count(h_i XOR
    h_j)`` is kept when ``<= max_hamming``; ``max_hamming=None`` returns
    the distinct candidate ``(doc_i, doc_j)`` pairs unverified. A NULL
    fingerprint has NULL bands and pairs with nothing.

    ``max_bucket`` is the cluster-scale skew guard: it drops every
    (keys, band, value) bucket holding more than that many rows BEFORE
    the join, bounding the quadratic within-bucket pair count at a
    documented recall cost. Default None keeps exactness.
    """
    band_keys = F.array(
        *[
            F.shiftrightunsigned(hash_col, b * bits).bitwiseAND(F.lit((1 << bits) - 1))
            for b in range(bands)
        ]
    )
    on = [*keys, "band", "bkey"]

    def banded(df: DataFrame) -> DataFrame:
        out = df.select(
            *keys,
            F.col(id_col).alias("_id"),
            F.col(hash_col).alias("_h"),
            F.posexplode(band_keys).alias("band", "bkey"),
        )
        if max_bucket is not None:
            out = out.withColumn(
                "bucket_n", F.count(F.lit(1)).over(Window.partitionBy(*on))
            ).filter(F.col("bucket_n") <= max_bucket)
        return out

    def side(table: DataFrame, s: str) -> DataFrame:
        return table.select(*on, F.col("_id").alias(f"doc_{s}"), F.col("_h").alias(f"h_{s}"))

    left = banded(base)
    right = left if other is None else banded(other)
    pairs = side(left, "i").join(side(right, "j"), on)
    if other is None:
        pairs = pairs.filter(F.col("doc_i") < F.col("doc_j"))
    if max_hamming is None:
        out = pairs.select("doc_i", "doc_j").distinct()
    else:
        out = (
            pairs.select(
                "doc_i", "doc_j", F.bit_count(F.expr("h_i ^ h_j")).alias("hamming")
            )
            .distinct()
            .filter(F.col("hamming") <= max_hamming)
        )
    out._wps_cached = [base]  # release via release_cached(out)
    return out


def release_cached(df: DataFrame) -> None:
    """Unpersist the intermediates an operator cached while building *df*.

    Operators that ``persist()`` a subtree consumed multiple times attach
    the handles as ``df._wps_cached``; long-lived sessions call this once
    the result is materialized (cached entries are otherwise pinned by
    Spark's CacheManager forever)."""
    for cached in getattr(df, "_wps_cached", []):
        cached.unpersist()


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_edit: int = 5,
    prefix_len: int = 80,
) -> DataFrame:
    """Near-dup pairs by edit distance on a normalized prefix.

    The classic OCR/boilerplate-variant catch that hash-based dedup
    misses (one flipped character changes every shingle, but moves the
    edit distance by 1). Semantics:

    - normalize: tokenized text re-joined with single spaces — pure
      ``[a-z0-9 ]`` ASCII, which keeps Spark's CHARACTER-based
      levenshtein and DuckDB's BYTE-based one bit-identical;
    - bound the cost: compare only the first `prefix_len` chars (the DP
      is O(prefix²) per pair instead of O(|doc|²));
    - block by `block_col`, prefilter on |len_i − len_j| ≤ max_edit
      (lev ≥ length difference, so the filter is lossless), DP only on
      survivors. Spark's levenshtein threshold argument short-circuits
      the DP at max_edit+1; the ≤ filter makes the -1 sentinel moot.

    At 100 TB add a second blocking key (e.g. a SimHash band) before
    the length prefilter — same join shape, tighter candidate set.
    """
    norm = F.substring(
        F.concat_ws(" ", tokenize(F.col(text_col))), 1, prefix_len
    )
    base = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("doc_id"),
        norm.alias("norm"),
        F.length(norm).alias("ln"),
    )
    a = base.select(
        "block",
        F.col("doc_id").alias("doc_i"),
        F.col("norm").alias("n_i"),
        F.col("ln").alias("l_i"),
    )
    b = base.select(
        "block",
        F.col("doc_id").alias("doc_j"),
        F.col("norm").alias("n_j"),
        F.col("ln").alias("l_j"),
    )
    lev = F.levenshtein(F.col("n_i"), F.col("n_j"), max_edit)
    return (
        a.join(b, "block")
        .filter(
            (F.col("doc_i") < F.col("doc_j"))
            & (F.abs(F.col("l_i") - F.col("l_j")) <= max_edit)
        )
        .select("doc_i", "doc_j", lev.alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_edit))
    )


def fuzzy_pairs_passjoin(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_edit: int = 5,
    prefix_len: int = 80,
) -> DataFrame:
    """`fuzzy_pairs` semantics with the PassJoin candidate generation —
    the documented "second blocking key" scale path implemented.

    The pigeonhole lemma (PassJoin, Li et al., VLDB 2011 — public): if
    ``lev(a, b) <= k`` and b is split into k+1 disjoint consecutive
    segments, an optimal alignment spends 0 edits on at least one
    segment, so that segment occurs in a EXACTLY, at a start position
    shifted by at most the net indel balance, i.e. within ±k. Candidate
    generation is therefore LOSSLESS:

    - index side: each doc's k+1 segments, keyed
      (block, len, segment_idx, segment_text);
    - probe side: each doc's substrings matching every partner length
      in [len−k, len+k] for each segment slot, at every shift that can
      still yield a ≤k pair: aligning segment i of the partner at shift
      ``sh`` forces the prefix regions (lengths differing by |sh|) to
      spend ≥ |sh| edits and the suffix regions ≥ |Δ−sh| (Δ = own len −
      partner len), disjoint from the 0-edit segment — so only
      ``|sh| + |Δ−sh| <= k`` shifts are generated (PassJoin's
      shift-aware substring selection; LOSSLESS by the same alignment
      argument). That is ~(k+1) shifts per partner length instead of
      the loose 2k+1 — ≤ ~400 keys per doc at k=5 instead of 726 —
      generated by three `posexplode(sequence(...))` generators over a
      MATERIALIZED norm column (plain substring projection after the
      Generate — no lambda HOFs, so nothing re-evaluates per element;
      the round-8 shingle lesson);
    - verify: exact thresholded levenshtein on distinct candidate
      pairs, identical to `fuzzy_pairs`.

    Cost: near-linear Σ(candidate-key df²) instead of the blocked
    all-pairs Σ(block²) — the key carries (length, slot, alignment), so
    only near-duplicate-aligned segments collide. Results are EXACTLY
    equal to `fuzzy_pairs` (the registry entry shares the plain
    all-pairs DuckDB oracle, so the driver hash-checks the lossless
    claim itself)."""
    if max_edit < 1:
        raise ValueError("max_edit must be >= 1")
    nseg = max_edit + 1
    norm = F.substring(
        F.concat_ws(" ", tokenize(F.col(text_col))), 1, prefix_len
    )
    # _spread: the ~400-keys-per-doc probe generation runs map-side off
    # this frame — a single-file fixture scan would generate all ~3M
    # keys on one core; no-op on a wide scan.
    # stage barrier: base0 feeds SIX consumers (segs, cands, shorts,
    # near, both verify sides) — without it each re-runs the scan +
    # tokenize + prefix projection (6 corpus scans at 100 TB). The frame
    # is narrow by construction (block, id, ≤prefix_len-char norm, len),
    # and the blocks are GC-released with the DataFrame.
    base0 = stage_materialize(
        _spread(
            df.select(
                F.col(block_col).alias("block"),
                F.col(id_col).alias("doc_id"),
                norm.alias("norm"),
                F.length(norm).alias("ln"),
            )
        )
    )
    # segmentation needs at least one char; ln == 0 docs still
    # participate through the short-string branch and the verify side
    base = base0.where(F.col("ln") > 0)

    def seg_pos(i, ln):  # 1-based start of segment i in a length-ln string
        return F.floor(i * ln / nseg) + 1

    def seg_len(i, ln):
        return F.floor((i + 1) * ln / nseg) - F.floor(i * ln / nseg)

    i_col = F.col("i")
    # index side: own segments
    segs = (
        base.select(
            "block",
            "doc_id",
            "norm",
            "ln",
            F.explode(F.sequence(F.lit(0), F.lit(nseg - 1))).alias("i"),
        )
        .select(
            "block",
            "doc_id",
            "ln",
            "i",
            F.substring(
                F.col("norm"),
                seg_pos(i_col, F.col("ln")).cast("int"),
                seg_len(i_col, F.col("ln")).cast("int"),
            ).alias("seg"),
            seg_len(i_col, F.col("ln")).alias("__sl"),
        )
        .where(F.col("__sl") > 0)
        .drop("__sl")
    )
    # probe side: substrings for every partner geometry and shift
    lp, sh = F.col("lp"), F.col("sh")
    pos = (seg_pos(i_col, lp) + sh).cast("int")
    slen = seg_len(i_col, lp).cast("int")
    cands = (
        base.select(
            "block",
            F.col("doc_id").alias("doc_a"),
            F.col("norm").alias("norm_a"),
            F.col("ln").alias("ln_a"),
            F.explode(F.sequence(F.lit(0), F.lit(nseg - 1))).alias("i"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(
                    F.greatest(F.col("ln_a") - max_edit, F.lit(1)),
                    F.col("ln_a") + max_edit,
                )
            ).alias("lp"),
        )
        .select(
            "*",
            F.explode(
                F.sequence(F.lit(-max_edit), F.lit(max_edit))
            ).alias("sh"),
        )
        .where(
            (slen > 0)
            & (pos >= 1)
            & (pos + slen - 1 <= F.col("ln_a"))
            # shift-aware pruning: a pair surviving verify must fit
            # |sh| edits in the prefix + |Δ - sh| in the suffix
            & (
                F.abs(sh) + F.abs((F.col("ln_a") - lp) - sh)
                <= F.lit(max_edit)
            )
        )
        .select(
            "block",
            "doc_a",
            "norm_a",
            "ln_a",
            "i",
            F.col("lp").alias("ln"),
            F.substring(F.col("norm_a"), pos, slen).alias("seg"),
        )
    )
    # SHUFFLE_HASH, explicitly (round 15, guide §3.1): both join inputs
    # descend from the base0 checkpoint, whose unknown stats made the
    # planner BROADCAST the ~316-keys-per-doc probe side (BuildLeft of
    # a corpus-derived 1.6M-row relation at sf0.1 — measured 1.5-1.8 s,
    # and a guaranteed 8 GB-broadcast-cap failure at 100 TB). Neither
    # side of a corpus×corpus key join may broadcast at scale; the
    # shuffled-hash form keys both sides on (block, ln, i, seg) and
    # builds the 6-rows-per-doc segment side per partition — measured
    # 1.53/1.65 -> 0.83/0.90 s best/median on the candidate subplan.
    pairs = (
        cands.join(segs.hint("shuffle_hash"), ["block", "ln", "i", "seg"])
        .where(F.col("doc_a") != F.col("doc_id"))
        .select(
            F.least("doc_a", "doc_id").alias("doc_i"),
            F.greatest("doc_a", "doc_id").alias("doc_j"),
        )
    )
    # Short-string branch: the lemma needs k+1 NON-EMPTY segments, so a
    # doc with ln < k+1 could only match via a zero-length segment the
    # index never stores. Pair those few docs all-against any partner
    # within the length window directly (both sets are tiny by
    # construction: norms < k+1 resp. < 2k+1 chars).
    shorts = base0.where(F.col("ln") < nseg).select(
        "block", F.col("doc_id").alias("doc_a"), F.col("ln").alias("la")
    )
    near = base0.where(F.col("ln") < nseg + max_edit).select(
        "block", F.col("doc_id").alias("doc_b"), F.col("ln").alias("lb")
    )
    short_pairs = (
        shorts.join(near, "block")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= max_edit)
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_i"),
            F.greatest("doc_a", "doc_b").alias("doc_j"),
        )
    )
    # ONE distinct over the union — map-side partial agg dedups segment
    # collisions before the exchange, so the per-branch distincts only
    # added a second (doc_i, doc_j) exchange for the same bytes
    pairs = pairs.unionByName(short_pairs).distinct()
    a = base0.select(
        F.col("doc_id").alias("doc_i"),
        F.col("norm").alias("n_i"),
        F.col("ln").alias("l_i"),
    )
    b = base0.select(
        F.col("doc_id").alias("doc_j"),
        F.col("norm").alias("n_j"),
        F.col("ln").alias("l_j"),
    )
    lev = F.levenshtein(F.col("n_i"), F.col("n_j"), max_edit)
    return (
        pairs.join(a, "doc_i")
        .join(b, "doc_j")
        .where(F.abs(F.col("l_i") - F.col("l_j")) <= max_edit)
        .select("doc_i", "doc_j", lev.alias("edit_dist"))
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_edit))
    )


def substring_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_run: int = 8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact cross-document substring spans (the suffix-array-style dedup
    signal, distributed): for each doc pair sharing at least one run of
    ``min_run`` consecutive tokens, the LONGEST shared run.

    Distributed shape (no suffix array, same answer for runs ≥ k):

    1. positional k-token shingles per doc (scan-shaped);
    2. equi-join on the shingle — each match is an ANCHOR
       (doc_i, doc_j, pos_i, diag = pos_i − pos_j). A run of R shared
       tokens produces R−k+1 anchors on ONE diagonal;
    3. gaps-and-islands per (pair, diag): consecutive pos_i values
       collapse via the ``pos_i − row_number()`` trick, island size s ⇒
       run of s+k−1 tokens;
    4. per-pair max.

    Shuffles: one on the shingle (the df-guard window and the self-join
    share it), one window on (pair, diag), one pre-aggregated pair
    groupBy. ``max_df`` drops stop-shingles BEFORE the self-join — the
    O(df²) fan-out guard every inverted-index method here uses. df is
    true DOCUMENT frequency (distinct docs containing the shingle), so
    one doc repeating a shingle cannot evict it corpus-wide; a dropped
    shingle can only shorten runs passing through it, so the result is
    exact for corpora under the cap and conservative above it (real
    deployments use k≈50-token fingerprints, where df is tiny).

    Output: (doc_i, doc_j, max_run BIGINT, n_runs BIGINT), doc_i < doc_j,
    filtered to max_run ≥ min_run. All-integer — oracle-exact under any
    partitioning.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("__t")
    )
    sh = toks.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("__t"), k, distinct=False)).alias(
            "pos", "shingle"
        ),
    )
    if max_df is not None:
        # true DOCUMENT frequency (distinct docs per shingle), not total
        # occurrences — a single doc repeating a shingle must not push
        # it over the cap. dense_rank over doc_id + max over the frame
        # = exact distinct count, both windows share the one shuffle.
        dfw_o = Window.partitionBy("shingle").orderBy("doc_id")
        dfw = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.max(F.dense_rank().over(dfw_o)).over(dfw))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    a = sh.select(
        F.col("doc_id").alias("doc_i"), F.col("pos").alias("pos_i"), "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_j"), F.col("pos").alias("pos_j"), "shingle"
    )
    anchors = (
        a.join(b, "shingle")
        .filter(F.col("doc_i") < F.col("doc_j"))
        .select("doc_i", "doc_j", "pos_i", (F.col("pos_i") - F.col("pos_j")).alias("diag"))
    )
    iw = Window.partitionBy("doc_i", "doc_j", "diag").orderBy("pos_i")
    islands = anchors.withColumn(
        "grp", F.col("pos_i") - F.row_number().over(iw)
    )
    runs = islands.groupBy("doc_i", "doc_j", "diag", "grp").agg(
        (F.count(F.lit(1)) + F.lit(k - 1)).alias("run_tokens")
    )
    return (
        runs.groupBy("doc_i", "doc_j")
        .agg(
            F.max("run_tokens").alias("max_run"),
            F.count(F.lit(1)).alias("n_runs"),
        )
        .filter(F.col("max_run") >= min_run)
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = None,
) -> DataFrame:
    """X2+: SemDeDup — embedding-space near-duplicate removal blocked by
    k-means cell (Abbas et al. 2023, arXiv:2303.09540: cluster the
    corpus, compare only within clusters, keep one representative per
    near-dup group).

    Pipeline: assign every vector to its nearest *centroid* by cosine
    (centroids broadcast, corpus scans once — similarity.py:ivf_assign);
    self-equi-join on the cell id for candidate pairs with
    ``round(cos, 6) >= threshold``; min-label connected components over
    the pair graph; each component keeps its min-id member.

    Returns (id_col, cell, keep) for EVERY input vector — callers filter
    ``keep`` to drop duplicates, or audit the flagged set.

    Scale: the only corpus-sized shuffle is the equi-join on ``cell``
    (pair work Σ n_cell², n_cell ≈ n/K by construction — K grows with
    the corpus, √n keeps cells constant-sized). Cross-cell near-dups are
    missed by design (the SemDeDup approximation). ``max_cell`` is the
    skew guard: cells that collapse onto one centroid (degenerate
    embeddings, all-zero vectors) skip pairing — their members are all
    kept, and at 100 TB you would log and re-shard such cells with a
    finer local codebook. Components run on the PAIR set (tiny), not the
    corpus.
    """
    from whisper_pandas_spark.operators.components import connected_components
    from whisper_pandas_spark.operators.similarity import (
        cosine_with_norms,
        ivf_assign,
        norm,
    )

    # persisted: feeds the size guard, both self-join sides, and the
    # final keep join — without it the corpus-wide assignment (scan +
    # K-way scoring) would recompute up to four times in one action
    cells = (
        ivf_assign(vectors, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)
        .select("vec_id", "vec", "cell", norm(F.col("vec")).alias("nrm"))
        .persist()
    )
    pairable = cells
    if max_cell is not None:
        sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
        pairable = cells.join(
            F.broadcast(sizes.filter(F.col("__n") <= max_cell)), "cell"
        )
    a = pairable.select(
        "cell",
        F.col("vec_id").alias("vec_i"),
        F.col("vec").alias("e_i"),
        F.col("nrm").alias("n_i"),
    )
    b = pairable.select(
        "cell",
        F.col("vec_id").alias("vec_j"),
        F.col("vec").alias("e_j"),
        F.col("nrm").alias("n_j"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("vec_i") < F.col("vec_j"))
        .select(
            "vec_i",
            "vec_j",
            F.round(
                cosine_with_norms(
                    F.col("e_i"), F.col("e_j"), F.col("n_i"), F.col("n_j")
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    comp = connected_components(pairs, src="vec_i", dst="vec_j").select(
        F.col("node").alias("vec_id"), "comp"
    )
    out = (
        cells.select("vec_id", "cell")
        .join(comp, "vec_id", "left")
        .withColumn(
            "keep",
            F.col("comp").isNull() | (F.col("comp") == F.col("vec_id")),
        )
        .select(F.col("vec_id").alias(id_col), "cell", "keep")
    )
    # same contract as simhash_pairs: long-lived sessions call
    # release_cached(out) once the result is materialized, otherwise the
    # corpus-wide cell assignment stays pinned in executor storage
    out._wps_cached = [cells]
    return out


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact duplicate-PARAGRAPH drop (the Dolma recipe —
    public: Soldaini et al. 2024, "Dolma", §duplicate removal): split
    every document on blank lines, keep each distinct paragraph only at
    its FIRST corpus occurrence (minimal (doc_id, position) — so
    within-document repeats drop too), and reassemble what survives in
    original order. Complements the within-pair substring spans
    (:func:`substring_span_pairs`): this is the one global pass Dolma
    actually runs over a crawl.

    Returns (doc_id, n_paras, n_kept, text_dedup) — one row per input
    document; a document whose every paragraph occurred earlier
    elsewhere keeps a row with n_kept = 0 and text_dedup = ''. A corpus
    with no duplicate paragraphs round-trips byte-identical
    (pytest-pinned).

    Scale shape: winner election groups by md5(paragraph) — the shuffle
    carries (16-byte hash, doc_id, pos), never paragraph text; partial
    aggregation (min-struct) combines map-side. Survivors are an
    equi-join of the paragraph stream against the winner set on
    (hash, doc_id, pos); reassembly is ONE groupBy(doc_id) with the
    sort_array-over-structs pattern (order-correct under any
    partitioning, no window). Paragraph text moves exactly twice: the
    initial explode projection and the reassembly shuffle of KEPT
    paragraphs only.
    """
    import re as _re

    docs = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), _re.escape(sep), -1)).alias(
            "pos", "para"
        ),
    ).withColumn("h", F.md5(F.col("para")))
    winners = (
        paras.groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .select("h", F.col("w.doc_id").alias("wdoc"), F.col("w.pos").alias("wpos"))
    )
    kept = paras.join(
        winners,
        (paras["h"] == winners["h"])
        & (paras["doc_id"] == winners["wdoc"])
        & (paras["pos"] == winners["wpos"]),
    ).select(paras["doc_id"], paras["pos"], paras["para"])
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_dedup"),
    )
    counts = docs.select(
        "doc_id", F.size(F.split(F.col("text"), _re.escape(sep), -1)).alias("n_paras")
    )
    return counts.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("n_paras").cast("int").alias("n_paras"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )


def duplicate_span_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Corpus-global duplicated-SPAN removal — the word-token
    simplification of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", ExactSubstr): any ``window``-token
    sequence that occurs more than once in the corpus is removed from
    every occurrence EXCEPT its first (minimal (doc_id, position)),
    overlapping duplicated windows merging naturally through position-
    set union. Complements :func:`paragraph_dedup` (structural blocks)
    with content-defined spans that cross paragraph boundaries.

    Returns (doc_id, n_tokens, n_removed, text_dedup) — one row per
    input document, ``text_dedup`` the surviving tokens joined by a
    single space in original order.

    Scale shape: window hashes are md5 of the joined token slice, built
    from each document's token ARRAY with codegen HOFs (sequence →
    transform → posexplode — no Python); the global frequency/winner
    election groups by the 16-byte hash with partial aggregation
    (min-struct); removed positions come from exploding non-winner
    occurrences' [q, q+W) ranges (bounded blow-up: W rows per
    occurrence); survivors are a left-anti join of the token stream and
    reassembly is the one sort_array-over-structs groupBy. Shuffled
    bytes: window hashes + (doc, pos) ids — never text except the
    final kept-token reassembly.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ", -1).alias("ws"),
    )
    n = F.size("ws")
    qs = F.when(
        n >= window, F.sequence(F.lit(0), n - F.lit(window))
    ).otherwise(F.array().cast("array<int>"))
    winds = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                qs,
                lambda q: F.struct(
                    q.alias("q"),
                    F.md5(
                        F.array_join(
                            F.slice(F.col("ws"), q + F.lit(1), F.lit(window)),
                            " ",
                        )
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", "w.q", "w.h")
    freq = winds.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "q")).alias("win"),
    )
    losers = (
        winds.join(freq.filter(F.col("n_occ") > 1), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("win.doc_id"))
                & (F.col("q") == F.col("win.q"))
            )
        )
        .select("doc_id", "q")
    )
    removed = losers.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("q"), F.col("q") + F.lit(window - 1))
        ).alias("p"),
    ).distinct()
    toks = docs.select(
        "doc_id", F.posexplode(F.col("ws")).alias("p", "tok")
    )
    kept = toks.join(removed, ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    totals = docs.select("doc_id", n.alias("n_tokens"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )


def duplicate_span_removal_bytes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 24,
) -> DataFrame:
    """Corpus-global duplicated-span removal over the RAW UTF-8 BYTE
    stream — the byte-level form of Lee et al. 2022's ExactSubstr (the
    paper operates on bytes, not tokens): any ``window``-byte sequence
    occurring more than once in the corpus is cut from every occurrence
    except its first (minimal (doc_id, position)); overlapping
    duplicated windows merge through position-set union.

    Why a second form next to :func:`duplicate_span_removal` (the
    word-token simplification): byte windows catch CROSS-TOKENIZATION
    duplicates the word form misses — a duplicated run inside a single
    long token, spanning punctuation the tokenizer splits differently,
    or shorter (in words) than the word window while long in bytes.
    pytest pins such a case.

    SQL-safety: bytes are processed as their HEX image (2 chars/byte —
    ``hex(encode(text))``; uppercase on both engines), so every
    operation is plain string arithmetic any engine replays; the output
    is ``text_dedup_hex`` — the surviving byte stream as hex. It stays
    hex because byte-level cuts can split multi-byte UTF-8 sequences
    (inherent to the byte formulation; Lee et al. cut raw bytes too),
    so decoding back to a string is the caller's lossy choice.

    Scale shape (mirrors the word form's election, but with NO
    higher-order lambdas in the window build and NO per-byte rows at
    all): window starts come from ``explode(sequence(...))`` and each
    hash is a codegen ``md5(substring(hx, 2q+1, 2W))`` projection —
    the explode is pipelined, so the doc's hex string is never
    materialized per window. The election groups 16-byte hashes with
    partial-agg min-struct. Reassembly is INTERVAL arithmetic instead
    of the word form's token-stream anti-join: loser windows [q, q+W)
    merge per document with one gaps-and-islands window pass (rows =
    losers only, not bytes), and the surviving text is the
    concatenation of the complement ranges' substrings — one small
    join back to the doc row, one HOF over the (few) merged intervals.
    Shuffled bytes: hashes + (doc, pos) ids + merged interval structs;
    document bytes never shuffle (the final projection reads hx from
    the scan side of the doc join).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    # _spread: a single-file fixture arrives as ONE scan partition, which
    # would run the 35M-window/corpus md5 build single-core (and TWICE —
    # the winds subtree feeds both the election and the probe side);
    # at real scale the scan arrives wide and this is a no-op
    docs = _spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.hex(F.encode(F.col(text_col), "utf-8")).alias("hx"),
        )
    ).select("doc_id", "hx", F.expr("length(hx) div 2").alias("nb"))
    # sequence(0, n) DESCENDS for n < 0 (the documented Spark trap) —
    # filter short docs before building starts
    winds = (
        docs.filter(F.col("nb") >= window)
        .select(
            "doc_id",
            "hx",
            F.explode(
                F.sequence(F.lit(0), F.col("nb") - F.lit(window))
            ).alias("q"),
        )
        .select(
            "doc_id",
            "q",
            # unhex packs the election key to 16 BYTES — the h shuffle
            # (group + probe) is the operator's dominant traffic and
            # halves vs the 32-char hex form (measured at sf1)
            F.expr(
                f"unhex(md5(substring(hx, q * 2 + 1, {2 * window})))"
            ).alias("h"),
        )
    )
    freq = winds.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "q")).alias("win"),
    )
    losers = (
        winds.join(freq.filter(F.col("n_occ") > 1), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("win.doc_id"))
                & (F.col("q") == F.col("win.q"))
            )
        )
        .select("doc_id", "q")
    )
    # gaps-and-islands merge of the loser windows [q, q+W): overlapping
    # OR touching intervals coalesce (touching merges avoid zero-length
    # complement slices); rows here are LOSERS, not bytes
    w_doc = Window.partitionBy("doc_id").orderBy("q")
    prev_max = F.max(F.col("q") + F.lit(window)).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = losers.select(
        "doc_id",
        "q",
        (F.col("q") + F.lit(window)).alias("e"),
        F.when(prev_max.isNull() | (F.col("q") > prev_max), 1)
        .otherwise(0)
        .alias("brk"),
    ).withColumn(
        "island",
        F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = islands.groupBy("doc_id", "island").agg(
        F.min("q").alias("s"), F.max("e").alias("e")
    )
    ranges = merged.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s")).alias("n_rem"),
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("rem"),
    )
    # surviving text = concatenation of the complement ranges' slices:
    # piece i spans [end of interval i-1, start of interval i), the
    # final piece runs to nb. The HOF iterates size(rem)+1 elements —
    # a handful per document, never per byte.
    piece = (
        "substring(hx,"
        " IF(i = 0, 0, rem[i - 1].e) * 2 + 1,"
        " (IF(i = size(rem), nb, rem[i].s)"
        "  - IF(i = 0, 0, rem[i - 1].e)) * 2)"
    )
    kept_hex = F.expr(
        f"array_join(transform(sequence(0, size(rem)), i -> {piece}), '')"
    )
    joined = docs.join(ranges, "doc_id", "left").withColumn(
        "rem",
        F.coalesce(F.col("rem"), F.expr("array()").cast(ranges.schema["rem"].dataType.simpleString())),
    )
    return joined.select(
        "doc_id",
        F.col("nb").cast("int").alias("n_bytes"),
        F.coalesce(F.col("n_rem"), F.lit(0)).cast("int").alias("n_removed"),
        kept_hex.alias("text_dedup_hex"),
    )
