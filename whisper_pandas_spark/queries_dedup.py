"""Registry entries: deduplication over `documents` (X1/X2) — exact,
MinHash-LSH, SimHash, n-gram / fuzzy / PassJoin pairs, substring and
paragraph spans, winnowing, components, benchmark decontamination
(``decontam_*``) and entity resolution (``er_*``).

Oracle strategy, by entry kind:

- exact dedup: independent SQL (GROUP BY text) — algorithm-free;
- LSH / SimHash / winnowing: full algorithm replication in DuckDB SQL
  (LSH has false negatives by design, so ground-truth all-pairs would
  NOT match; the md5 hash family is engine-portable, so the replication
  is exact);
- banded pair searches with no false negatives (SimHash pigeonhole
  banding at hamming ≤ 3, n-gram blocking by lang): INDEPENDENT
  brute-force all-pairs oracles — two different algorithms must agree
  exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, register_cache, replay, table
from whisper_pandas_spark.functions.hashing import HASH_HEX_CHARS, duck_base_hash32
from whisper_pandas_spark.functions.text import DUCK_SHINGLES as _DUCK_SHINGLES
from whisper_pandas_spark.functions.text import DUCK_TOKS, duck_minhash_pairs_ctes
from whisper_pandas_spark.operators import linkage as L
from whisper_pandas_spark.operators.dedup import (
    SIMHASH_BITS,
    exact_dedup,
    lsh_pairs,
    minhash_signature_arrow,
    ngram_jaccard_pairs,
    release_cached,
    simhash_arrow,
    simhash_pairs,
)
from whisper_pandas_spark.stage import stage_materialize


def _finalize(df: DataFrame, *extra_cached: DataFrame) -> DataFrame:
    """Materialize the (small) pair result eagerly, then unpersist every
    cached intermediate: the signature/fingerprint caches would otherwise
    stay pinned by Spark's CacheManager for the life of the session. The
    checkpointed result blocks are GC-managed, so downstream collects
    still reuse them without a leak."""
    out = stage_materialize(df)
    release_cached(df)
    for c in extra_cached:
        c.unpersist()
    return out

NUM_PERM = 12
BANDS = 4
ROWS = 3
JACCARD_T = 0.8

def _minhash_pairs_ctes() -> str:
    """CTE chain ending in ``mh_pairs (doc_i, doc_j, jaccard)`` — the full
    MinHash→LSH→verify replication (functions/text.py builds it; shared
    with the streaming replay oracle), instantiated at this module's
    parameters so the pair/component/canonical oracles agree."""
    return duck_minhash_pairs_ctes(NUM_PERM, BANDS, ROWS, JACCARD_T)


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pairs_ctes()}
SELECT doc_i, doc_j, jaccard FROM mh_pairs ORDER BY doc_i, doc_j
"""


def _components_ctes() -> str:
    """Recursive transitive closure over mh_pairs → ``comp (node, comp)``
    with comp = min reachable node id (the oracle twin of
    operators/components.py's min-label propagation)."""
    return f"""{_minhash_pairs_ctes()},
edges AS (
  SELECT doc_i AS a, doc_j AS b FROM mh_pairs
  UNION
  SELECT doc_j AS a, doc_i AS b FROM mh_pairs
), reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(comp) AS comp FROM reach GROUP BY node
)"""


def _simhash_cte() -> str:
    """CTE producing (doc_id, simhash) — 60 generated bit votes."""
    hash_expr = (
        f"list_transform(t, x -> ('0x' || substr(md5(x), 1, {HASH_HEX_CHARS}))::BIGINT)"
    )
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hashes, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
toks AS (
  SELECT doc_id, {DUCK_TOKS} AS t FROM documents
), hashed AS (
  SELECT doc_id, {hash_expr} AS hashes FROM toks
), sh AS (
  SELECT doc_id, {votes} AS simhash FROM hashed
)"""


@register(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY text ORDER BY keep_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: content-hash exact dedup. One shuffle on a uniform sha2 key —
    skew-free at any scale; map-side partial agg halves the shuffle."""
    return exact_dedup(
        table(spark, sf_dir, "documents"), "text", "doc_id"
    ).orderBy("keep_id")


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash(12 perms) → LSH(4 bands × 3 rows) → exact-Jaccard
    verify at 0.8. Sub-quadratic: the only O(pairs) work happens inside
    hash buckets. Signatures are narrow/shuffle-free; the bucket shuffle
    carries (doc_id, band, 16-byte key) rows only."""
    # Direct pipeline (not the shared checkpoint): this entry is the
    # HEADLINE bench for MinHash-LSH, so its timing must cover signatures
    # + banding + verification, not a pair-table read. persist: the
    # signature subtree is consumed 3× downstream (buckets + both
    # verification sides); at cluster scale this materialization would be
    # a write of the signature table — the same pipeline shape.
    docs = table(spark, sf_dir, "documents")
    sig = minhash_signature_arrow(docs, "doc_id", "text", NUM_PERM).persist()
    return _finalize(
        lsh_pairs(sig, BANDS, ROWS, JACCARD_T).orderBy("doc_i", "doc_j"), sig
    )


@register(
    "dedup_simhash",
    oracle=f"""
WITH {_simhash_cte().lstrip()}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: 60-bit Charikar SimHash per doc — shuffle-free, Arrow-batched
    (numpy bit matrix; the expression path's 60 interpreted bit-vote folds
    are the regression-tested slow twin)."""
    return simhash_arrow(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    ).orderBy("doc_id")


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH {_simhash_cte().lstrip()}
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_i, doc_j
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: near-dup pairs at hamming ≤ 3 via 4×15-bit pigeonhole banding
    (no false negatives ⟹ equals the oracle's brute force). The banded
    join is an equi-join on a 15-bit key instead of an O(n²) cross join."""
    pairs = simhash_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )
    # _wps_cached lives on the operator's own result, not on the orderBy
    return _finalize(pairs.orderBy("doc_i", "doc_j"), *getattr(pairs, "_wps_cached", []))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, {DUCK_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, lang, {_DUCK_SHINGLES} AS s FROM toks
), shf AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(s, x -> {duck_base_hash32("x")})) AS hh
  FROM sh WHERE len(s) > 0
)
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
  round(len(list_intersect(a.hh, b.hh)) * 1.0
        / len(list_distinct(list_concat(a.hh, b.hh))), 6) AS jaccard
FROM shf a JOIN shf b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.hh, b.hh)) * 1.0
        / len(list_distinct(list_concat(a.hh, b.hh))), 6) >= 0.6
ORDER BY doc_i, doc_j
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 baseline: exact 3-gram Jaccard ≥ 0.6, lang-blocked, computed
    with an INVERTED-INDEX join (pairs materialize only when they share a
    shingle; see ngram_jaccard_pairs — the naive blocked all-pairs was
    interpreter-bound at 102 s/sf0.1, this runs ~1 s). The oracle is the
    INDEPENDENT all-pairs intersect/union formulation — two different
    algorithms, identical jaccard arithmetic over hashed shingle sets."""
    pairs = ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        block_col="lang",
        threshold=0.6,
    )
    return _finalize(pairs.orderBy("doc_i", "doc_j"), *getattr(pairs, "_wps_cached", []))


@register(
    "dedup_fuzzy_pairs",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, lang,
         substr(array_to_string({DUCK_TOKS}, ' '), 1, 80) AS n
  FROM documents
)
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       levenshtein(a.n, b.n) AS edit_dist
FROM norm a JOIN norm b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.n, b.n) <= 5
ORDER BY doc_i, doc_j
""",
)
def dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: edit-distance near-dups on the 80-char normalized prefix —
    catches single-character variants that shift every shingle. Spark
    side blocks by lang with a lossless length-difference prefilter and
    a thresholded DP; the oracle is the INDEPENDENT plain all-pairs
    formulation (no prefilter, no threshold). Normalized text is pure
    ASCII, keeping Spark's char-based and DuckDB's byte-based
    levenshtein identical."""
    from whisper_pandas_spark.operators.dedup import fuzzy_pairs

    return (
        fuzzy_pairs(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            block_col="lang",
            max_edit=5,
            prefix_len=80,
        )
        .withColumn("edit_dist", F.col("edit_dist").cast("long"))
        .orderBy("doc_i", "doc_j")
    )


_PAIRS_CACHE: dict[str, DataFrame] = {}
register_cache(_PAIRS_CACHE.clear)


def _minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash pairs through the engine pipeline, materialized
    once per process per sf_dir — the pair/component/canonical entries
    all consume the same frame instead of re-running signatures + LSH
    (the cluster-scale twin is the written pair table every dedup stage
    reads). Checkpoint blocks are GC-managed; the signature cache is
    released eagerly."""
    if sf_dir not in _PAIRS_CACHE:
        docs = table(spark, sf_dir, "documents")
        sig = minhash_signature_arrow(docs, "doc_id", "text", NUM_PERM).persist()
        pairs = lsh_pairs(sig, BANDS, ROWS, JACCARD_T)
        out = stage_materialize(pairs)
        sig.unpersist()
        for c in getattr(pairs, "_wps_cached", []):
            c.unpersist()
        _PAIRS_CACHE[sf_dir] = out
    return _PAIRS_CACHE[sf_dir]


@register(
    "dedup_components",
    oracle=f"""
WITH RECURSIVE {_components_ctes()}
SELECT node AS doc_id, comp AS component FROM comp ORDER BY doc_id
""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 completion: near-dup PAIRS clustered into components (pairs
    chain — A~B, B~C must dedup as one group). Min-label propagation to a
    fixpoint (operators/components.py): O(diameter) rounds of two uniform
    shuffles each, over only the paired nodes. The oracle is an
    INDEPENDENT algorithm — DuckDB recursive transitive closure — over
    the same replicated MinHash pair set."""
    from whisper_pandas_spark.operators.components import connected_components

    pairs = _minhash_pairs_df(spark, sf_dir)
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component")
    )
    return comp.orderBy("doc_id")


@register(
    "dedup_canonical",
    oracle=f"""
WITH RECURSIVE {_components_ctes()}
SELECT d.doc_id, d.lang FROM documents d
WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
ORDER BY d.doc_id
""",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus itself: every near-dup cluster keeps only
    its min-id member, untouched docs pass through — one left-anti join
    against the (tiny) drop list. This is the operator a training
    pipeline actually calls; components/pairs are its internals."""
    from whisper_pandas_spark.operators.components import canonical_filter

    docs = table(spark, sf_dir, "documents")
    pairs = _minhash_pairs_df(spark, sf_dir)
    kept = canonical_filter(docs, pairs).select("doc_id", "lang")
    return kept.orderBy("doc_id")


TEST_FRAC = 0.1
VAL_FRAC = 0.1


def _split_case() -> str:
    from whisper_pandas_spark.operators.sampling import (
        BUCKET_SPACE,
        duck_hash_bucket,
    )

    t = int(TEST_FRAC * BUCKET_SPACE)
    v = int(VAL_FRAC * BUCKET_SPACE)
    return f"""CASE
    WHEN {duck_hash_bucket("doc_id")} < {t} THEN 'test'
    WHEN {duck_hash_bucket("doc_id")} < {t + v} THEN 'val'
    ELSE 'train' END"""


@register(
    "decontam_ngram_overlap",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, text, {_split_case()} AS split FROM documents
), toks AS (
  SELECT doc_id, split, {DUCK_TOKS} AS t FROM assigned
), shing AS (
  SELECT doc_id, split, {_DUCK_SHINGLES} AS s FROM toks
), shf AS (
  SELECT doc_id, split,
         list_distinct(list_transform(s, x -> {duck_base_hash32("x")})) AS hh
  FROM shing WHERE len(s) > 0
), held AS (
  SELECT DISTINCT unnest(hh) AS h FROM shf WHERE split = 'test'
), train_h AS (
  SELECT doc_id, unnest(hh) AS h FROM shf WHERE split = 'train'
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM train_h JOIN held USING (h)
GROUP BY doc_id ORDER BY doc_id
""",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (operators/decontam.py) composed with
    the deterministic splitter: flag train docs sharing any 3-gram with
    the test split. The held-out shingle set is the small join side
    (broadcast-shaped at scale); the corpus side is one scan + one
    groupBy."""
    from whisper_pandas_spark.operators.decontam import ngram_contamination
    from whisper_pandas_spark.operators.sampling import split_assign

    docs = table(spark, sf_dir, "documents")
    assigned = split_assign(docs, "doc_id", TEST_FRAC, VAL_FRAC)
    train = assigned.filter(F.col("split") == "train")
    test = assigned.filter(F.col("split") == "test")
    return ngram_contamination(train, test).orderBy("doc_id")


SPAN_K = 3
SPAN_MIN_RUN = 8
SPAN_MAX_DF = 100

_SPAN_TOKS = (
    "regexp_split_to_array(trim(regexp_replace(lower(text), "
    "'[^a-z0-9]+', ' ', 'g')), ' ')"
)


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SPAN_TOKS} AS t FROM documents
), sh AS (
  SELECT doc_id, i - 1 AS pos,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, unnest(range(1, greatest(len(t) - {SPAN_K} + 1, 0) + 1)) AS u(i)
), guarded AS (
  SELECT * FROM (
    SELECT doc_id, pos, shingle,
           count(DISTINCT doc_id) OVER (PARTITION BY shingle) AS df
    FROM sh
  ) WHERE df <= {SPAN_MAX_DF}
), anchors AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, a.pos AS pos_i,
         a.pos - b.pos AS diag
  FROM guarded a JOIN guarded b USING (shingle)
  WHERE a.doc_id < b.doc_id
), isl AS (
  SELECT doc_i, doc_j, diag, pos_i,
         pos_i - row_number() OVER (PARTITION BY doc_i, doc_j, diag
                                    ORDER BY pos_i) AS grp
  FROM anchors
), runs AS (
  SELECT doc_i, doc_j, diag, grp, count(*) + {SPAN_K} - 1 AS run_tokens
  FROM isl GROUP BY doc_i, doc_j, diag, grp
)
SELECT doc_i, doc_j, max(run_tokens) AS max_run, count(*) AS n_runs
FROM runs GROUP BY doc_i, doc_j
HAVING max(run_tokens) >= {SPAN_MIN_RUN}
ORDER BY doc_i, doc_j
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+: exact cross-document substring spans — the suffix-array-style
    training-data dedup signal (longest shared run of >= {SPAN_MIN_RUN}
    consecutive tokens per doc pair), distributed as positional-shingle
    anchors + gaps-and-islands (operators/dedup.py:substring_span_pairs).
    All-integer output; stop-shingle df guard bounds the anchor join."""
    from whisper_pandas_spark.operators.dedup import substring_span_pairs

    return substring_span_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=SPAN_K,
        min_run=SPAN_MIN_RUN,
        max_df=SPAN_MAX_DF,
    ).orderBy("doc_i", "doc_j")


# -- PassJoin fuzzy dedup: the lossless scale path ---------------------------


def _fuzzy_allpairs_oracle() -> str:

    return f"""
WITH norm AS (
  SELECT doc_id, lang,
         substr(array_to_string({DUCK_TOKS}, ' '), 1, 80) AS n
  FROM documents
)
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       levenshtein(a.n, b.n) AS edit_dist
FROM norm a JOIN norm b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE levenshtein(a.n, b.n) <= 5
ORDER BY doc_i, doc_j
"""


@register("dedup_fuzzy_passjoin", oracle=_fuzzy_allpairs_oracle())
def dedup_fuzzy_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/Y+ scale path: `dedup_fuzzy_pairs` semantics through PassJoin
    pigeonhole candidate generation (operators/dedup.py:
    fuzzy_pairs_passjoin) — k+1 segments indexed per doc, substring
    probes over the ±k length/shift window, exact thresholded verify.
    Shares the plain ALL-PAIRS oracle with dedup_fuzzy_pairs, so the
    driver's hash compare IS the losslessness proof: a single candidate
    the segment join fails to generate hash-mismatches. This replaces
    the Σ(block²) candidate cost that made the blocked variant 18x at
    the 10x scale step (PERF_sf0.1.md) with Σ(aligned-segment df²).
    Measured at sf0.1: 8 748 candidate pairs to verify vs the blocked
    join's 2 931 702 (335x fewer thresholded-DP calls); at THIS corpus
    size the linear probe-key generation (~3.1 M keys) still costs more
    wall-clock than the cheap 80-char DPs it saves, so the blocked
    variant stays the small-corpus default — the crossover sits just
    above this fixture (10x more docs ⇒ ~293 M DPs blocked vs ~31 M
    keys here)."""
    from whisper_pandas_spark.operators.dedup import fuzzy_pairs_passjoin

    return (
        fuzzy_pairs_passjoin(
            table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            block_col="lang",
            max_edit=5,
            prefix_len=80,
        )
        .withColumn("edit_dist", F.col("edit_dist").cast("long"))
        .orderBy("doc_i", "doc_j")
    )


# -- Bloom-filtered decontamination ---------------------------------------------

_DC_BLOOM_K = 3
_DC_BLOOM_M = 1 << 16


def _decontam_bloom_oracle() -> str:
    from whisper_pandas_spark.functions.text import DUCK_SHINGLES
    from whisper_pandas_spark.operators.sketches import bloom_duck_hash

    k, m = _DC_BLOOM_K, _DC_BLOOM_M
    return f"""
WITH assigned AS (
  SELECT doc_id, text, {_split_case()} AS split FROM documents
), toks AS (
  SELECT doc_id, split, {DUCK_TOKS} AS t FROM assigned
), shing AS (
  SELECT doc_id, split, {DUCK_SHINGLES} AS s FROM toks
), shf AS (
  SELECT doc_id, split,
         list_distinct(list_transform(s, x -> {duck_base_hash32("x")})) AS hh
  FROM shing WHERE len(s) > 0
), held AS (
  SELECT DISTINCT unnest(hh) AS h FROM shf WHERE split = 'test'
), seeds AS (
  SELECT CAST(i AS INT) AS s FROM generate_series(0, {k - 1}) t(i)
), bits AS (
  SELECT DISTINCT {bloom_duck_hash("held.h", "s.s", m)} AS bit
  FROM held, seeds s
), train_h AS (
  SELECT doc_id, unnest(hh) AS h FROM shf WHERE split = 'train'
), pb AS (
  SELECT DISTINCT t.doc_id, t.h, {bloom_duck_hash("t.h", "s.s", m)} AS bit
  FROM train_h t, seeds s
), miss AS (
  SELECT DISTINCT p.doc_id, p.h
  FROM pb p LEFT JOIN bits b USING (bit) WHERE b.bit IS NULL
), flagged AS (
  SELECT doc_id, h FROM train_h
  EXCEPT
  SELECT doc_id, h FROM miss
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


@register("decontam_bloom_flags", oracle=_decontam_bloom_oracle())
def decontam_bloom_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X-pipeline+: Bloom-filtered train/eval decontamination
    (operators/decontam.py:bloom_contamination) composed with the
    deterministic splitter — the production shape when the benchmark
    suite's shingle set is too large to broadcast raw: the held-out
    shingles compress into one fixed-size (m-bit) Bloom filter, and
    training shingles probe it with a k-way bit explode + broadcast
    anti-join pair.  One-sided by the Bloom law: the verdict set is a
    SUPERSET of `decontam_ngram_overlap`'s exact answer (scrubbing
    over-drops, never leaks; the md5 bit family is cross-engine, so the
    false positives themselves replay bit-for-bit in the oracle).
    Scale: the filter is m bits REGARDLESS of held-out cardinality; the
    corpus side stays scan-shaped with no self-shuffle."""
    from whisper_pandas_spark.operators.decontam import bloom_contamination
    from whisper_pandas_spark.operators.sampling import split_assign

    docs = table(spark, sf_dir, "documents")
    assigned = split_assign(docs, "doc_id", TEST_FRAC, VAL_FRAC)
    train = assigned.filter(F.col("split") == "train")
    test = assigned.filter(F.col("split") == "test")
    return bloom_contamination(
        train, test, k=_DC_BLOOM_K, m=_DC_BLOOM_M
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup_paragraph_exact
# ---------------------------------------------------------------------------
# The corpus has no blank-line structure, so the fixture plants it
# deterministically: every document becomes 4 paragraphs — a boilerplate
# header shared by ALL docs (survives only in doc 0), two slices of its
# own text, and the first slice of its group-of-10 buddy's text (a
# cross-doc duplicate that survives only in the buddy; for the buddy
# itself it equals paragraph 2 — a WITHIN-doc duplicate). Exercises
# every drop rule Dolma's paragraph pass has.

_PARA_ORACLE = """
WITH fix AS (
  SELECT d.doc_id,
         'BOILERPLATE LICENSE HEADER' || chr(10) || chr(10) ||
         substr(d.text, 1, 60) || chr(10) || chr(10) ||
         substr(d.text, 61, 60) || chr(10) || chr(10) ||
         substr(b.text, 1, 60) AS text
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 10
), parts AS (
  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM fix
), paras AS (
  SELECT doc_id, CAST(t.i AS INT) AS pos, ps[CAST(t.i + 1 AS INT)] AS para
  FROM parts CROSS JOIN range(0, 8) AS t(i) WHERE t.i < len(ps)
), kept AS (
  SELECT doc_id, pos, para FROM (
    SELECT doc_id, pos, para,
           row_number() OVER (PARTITION BY md5(para)
                              ORDER BY doc_id, pos) AS rn
    FROM paras) WHERE rn = 1
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_dedup
  FROM kept GROUP BY doc_id
)
SELECT p.doc_id, CAST(len(p.ps) AS INT) AS n_paras,
       CAST(coalesce(a.n_kept, 0) AS INT) AS n_kept,
       coalesce(a.text_dedup, '') AS text_dedup
FROM parts p LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


@register("dedup_paragraph_exact", oracle=_PARA_ORACLE)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 extension: Dolma-style corpus-wide duplicate-paragraph drop
    with positional reassembly (operators/dedup.py:paragraph_dedup,
    VERDICT r11 #5). Winner election shuffles (md5, doc_id, pos) only;
    reassembly is one sort_array-over-structs groupBy. The oracle
    elects winners with a window row_number (independent idiom from the
    Spark side's min-struct partial aggregation)."""
    from whisper_pandas_spark.operators.dedup import paragraph_dedup

    docs = table(spark, sf_dir, "documents")
    buddy = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    fix = (
        docs.join(
            buddy,
            (F.col("doc_id") - F.col("doc_id") % 10) == F.col("bid"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                "\n\n",
                F.lit("BOILERPLATE LICENSE HEADER"),
                F.substring("text", 1, 60),
                F.substring("text", 61, 60),
                F.substring("btext", 1, 60),
            ).alias("text"),
        )
    )
    return paragraph_dedup(fix, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# dedup_duplicate_spans — Lee et al. ExactSubstr (word-token form)
# ---------------------------------------------------------------------------
# The corpus' random-word texts never repeat an 8-gram naturally, so
# the fixture splices in duplicated spans: every doc gains its
# group-of-10 buddy's first 12 tokens (duplicated across the group AND
# against the buddy's own text start) and a globally shared 12-token
# boilerplate sentence. Winner occurrences (min doc_id, pos) keep
# their tokens; every other occurrence's covered positions are cut.

_SPAN_ORACLE = """
WITH fix AS (
  SELECT d.doc_id,
         d.text || ' ' ||
         array_to_string(list_slice(string_split(b.text, ' '), 1, 12), ' ')
         || ' the quick brown fox jumps over the lazy dog again and again'
           AS text
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 10
), arrs AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM fix
), toks AS (
  SELECT doc_id, CAST(t.i AS INT) AS p, ws[CAST(t.i + 1 AS INT)] AS tok
  FROM arrs CROSS JOIN range(0, 1024) AS t(i) WHERE t.i < len(ws)
), winds AS (
  SELECT doc_id, CAST(t.q AS INT) AS q,
         md5(array_to_string(
           list_slice(ws, CAST(t.q + 1 AS INT), CAST(t.q + 8 AS INT)), ' '))
           AS h
  FROM arrs CROSS JOIN range(0, 1024) AS t(q) WHERE t.q + 8 <= len(ws)
), marked AS (
  SELECT doc_id, q,
         count(*) OVER (PARTITION BY h) AS n_occ,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, q) AS rn
  FROM winds
), rem AS (
  SELECT DISTINCT doc_id, CAST(q + t.k AS INT) AS p
  FROM marked CROSS JOIN range(0, 8) AS t(k)
  WHERE n_occ > 1 AND rn > 1
), kept AS (
  SELECT t.doc_id, t.p, t.tok FROM toks t
  ANTI JOIN rem r ON t.doc_id = r.doc_id AND t.p = r.p
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS text_dedup
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens FROM arrs
)
SELECT tot.doc_id, tot.n_tokens,
       CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS INT) AS n_removed,
       coalesce(agg.text_dedup, '') AS text_dedup
FROM tot LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


@register("dedup_duplicate_spans", oracle=_SPAN_ORACLE)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 extension: corpus-global duplicated-span removal — the
    word-token ExactSubstr recipe (Lee et al. 2022;
    operators/dedup.py:duplicate_span_removal). Window hashes built
    with codegen HOFs from each doc's token array; the only heavy
    exchange groups 16-byte hashes with partial-agg min-struct winner
    election; survivors reassemble via sort_array-over-structs. The
    oracle elects winners with a window row_number (independent
    idiom)."""
    from whisper_pandas_spark.operators.dedup import duplicate_span_removal

    docs = table(spark, sf_dir, "documents")
    buddy = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    fix = (
        docs.join(
            buddy,
            (F.col("doc_id") - F.col("doc_id") % 10) == F.col("bid"),
        )
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(
                    F.slice(F.split(F.col("btext"), " ", -1), 1, 12), " "
                ),
                F.lit(
                    " the quick brown fox jumps over the lazy dog"
                    " again and again"
                ),
            ).alias("text"),
        )
    )
    return duplicate_span_removal(fix, "doc_id", "text", window=8).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# decontam_semantic_flags — the semantic member of the decontam family
# ---------------------------------------------------------------------------


def _semantic_decontam_oracle() -> str:
    from whisper_pandas_spark.functions.duck import duck_cos

    cos = duck_cos("c.embedding", "h.hv")
    return f"""
WITH h AS (
  SELECT embedding AS hv FROM embeddings WHERE vec_id % 29 = 0
), s AS (
  SELECT c.vec_id, max({cos}) AS mc
  FROM embeddings c CROSS JOIN h GROUP BY c.vec_id
)
SELECT vec_id, round(mc + 1e-9, 6) AS max_cos,
       CAST(CASE WHEN mc >= 0.95 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM s ORDER BY vec_id
"""


@register("decontam_semantic_flags", oracle=_semantic_decontam_oracle())
def decontam_semantic_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/decontam bridge: embedding-level (semantic) decontamination —
    max cosine of every corpus vector against a broadcast held-out set
    (vec_id % 29 == 0 stands in for the benchmark suite; its members
    flag themselves at cosine 1, paraphrase-near vectors flag below).
    Completes the decontam family: exact n-gram
    (decontam_ngram_overlap), fixed-size Bloom (decontam_bloom_flags),
    semantic (this). Order-pinned cosine fold -> bit-identical doubles
    on both engines; threshold applied to the RAW max, rounding only
    for display."""
    from whisper_pandas_spark.operators.decontam import semantic_contamination

    emb = table(spark, sf_dir, "embeddings")
    held = emb.filter(F.col("vec_id") % 29 == 0)
    out = semantic_contamination(emb, held, "vec_id", "embedding", 0.95)
    return out.select(
        "vec_id",
        F.round(F.col("max_cos") + F.lit(1e-9), 6).alias("max_cos"),
        "contaminated",
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# text_winnow_fingerprints
# ---------------------------------------------------------------------------

_WINNOW_K = 4
_WINNOW_W = 5


def _winnow_sel_sql(source_sql: str) -> str:
    """CTE chain selecting winnowing fingerprints from a
    ``(doc_id, text)`` source expression — shared by the fingerprint
    entry and the overlap-pairs entry (one generator, no drift)."""
    from whisper_pandas_spark.operators.winnow import winnow_duck_hash

    k, w = _WINNOW_K, _WINNOW_W
    gram = f"array_to_string(list_slice(t, CAST(s + 1 AS INT), CAST(s + {k} AS INT)), ' ')"
    return f"""toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(regexp_replace(lower(text),
      '[^a-z0-9]+', ' ', 'g')), ' ') AS t
  FROM ({source_sql})
), g AS (
  SELECT doc_id,
    list_transform(range(0, len(t) - {k} + 1),
      s -> {winnow_duck_hash(gram)}) AS gh
  FROM toks WHERE len(t) >= {k}
), starts AS (
  SELECT doc_id, gh, len(gh) AS ng,
    unnest(range(0, greatest(len(gh) - {w}, 0) + 1)) AS s
  FROM g
), sel AS (
  SELECT doc_id,
    list_slice(gh, CAST(s + 1 AS INT),
               CAST(least(s + {w}, ng) AS INT)) AS win, s
  FROM starts
), mins AS (
  SELECT doc_id, s, win,
    list_reduce(win, (a, b) -> least(a, b)) AS fp
  FROM sel
), selected AS (
  SELECT DISTINCT doc_id,
    CAST(s + len(win) - list_position(list_reverse(win), fp) AS BIGINT) AS pos,
    fp
  FROM mins
)"""


def _winnow_oracle() -> str:
    return f"""
WITH {_winnow_sel_sql("SELECT doc_id, text FROM documents")}
SELECT doc_id, pos, fp FROM selected ORDER BY doc_id, pos
"""


@register("text_winnow_fingerprints", oracle=_winnow_oracle())
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4/X2 bridge: winnowing (MOSS) positioned local fingerprints —
    k-gram hash array as a zero-shuffle codegen projection, then ONE
    doc-partitioned window pass selecting each w-window's rightmost
    minimum via min(struct(hash, -pos)) over a forward frame
    (operators/winnow.py). Guarantees a shared fingerprint for any
    shared substring of >= w + k - 1 tokens. The oracle replays hash,
    windows, and the rightmost-tie rule with DuckDB list lambdas
    (list_reverse + list_position — an independent idiom from the
    struct-min)."""
    from whisper_pandas_spark.functions.text import tokenize
    from whisper_pandas_spark.operators.winnow import winnow_fingerprints_arrow

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("toks")
    )
    return winnow_fingerprints_arrow(
        docs, "doc_id", "toks", k=_WINNOW_K, w=_WINNOW_W
    ).orderBy("doc_id", "pos")


# ---------------------------------------------------------------------------
# dedup_winnow_pairs
# ---------------------------------------------------------------------------
# Fixture: every document gets a planted 10-token snippet appended;
# docs 2i and 2i+1 share snippet p<i> (tokens p<i>x0..p<i>x9 — pairwise
# distinct across pairs), so each adjacent pair shares a >= w+k-1-token
# run and the winnowing guarantee forces at least one shared
# fingerprint. The overlap readout joins fingerprints (equi-join on the
# hash value, stop-fingerprint guard) and counts shared selections.

_WINNOW_MIN_SHARED = 1
_WINNOW_MAX_FP_DOCS = 64

_WINNOW_PAIR_SOURCE = """
  SELECT doc_id,
    text || ' ' || array_to_string(list_transform(range(0, 10),
      j -> 'p' || CAST(doc_id // 2 AS VARCHAR) || 'x'
           || CAST(j AS VARCHAR)), ' ') AS text
  FROM documents
"""


def _winnow_pairs_oracle() -> str:
    return f"""
WITH {_winnow_sel_sql(_WINNOW_PAIR_SOURCE)},
dfps AS (
  SELECT DISTINCT doc_id, fp FROM selected
), keepfp AS (
  SELECT fp FROM dfps GROUP BY fp
  HAVING count(*) <= {_WINNOW_MAX_FP_DOCS}
), kept AS (
  SELECT d.doc_id, d.fp FROM dfps d JOIN keepfp USING (fp)
)
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
  CAST(count(*) AS BIGINT) AS n_shared
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_WINNOW_MIN_SHARED}
ORDER BY doc_i, doc_j
"""


@register("dedup_winnow_pairs", oracle=_winnow_pairs_oracle())
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2+: the MOSS overlap readout (operators/winnow.py:
    winnow_overlap_pairs) — document pairs ranked by shared winnowing
    fingerprints: an equi-join on the fingerprint VALUE (never
    all-pairs) over per-doc distinct selections, with the
    stop-fingerprint guard (max_fp_docs — the stopword/skew analogue of
    the LSH max_bucket caps) bounding any hash value's fan-out. The
    planted snippet pairs exercise the paper's guarantee end to end:
    every >= w+k-1-token shared run surfaces as a pair."""
    from whisper_pandas_spark.functions.text import tokenize
    from whisper_pandas_spark.operators.winnow import (
        winnow_fingerprints_arrow,
        winnow_overlap_pairs,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text, ' ', array_join(transform(sequence(0, 9),"
            " j -> concat('p', cast(doc_id div 2 as string), 'x',"
            " cast(j as string))), ' '))"
        ).alias("text"),
    )
    toked = docs.select("doc_id", tokenize("text").alias("toks"))
    # the Arrow variant skips the window form's (id, pos) sort — the
    # overlap join is order-independent
    fps = winnow_fingerprints_arrow(
        toked, "doc_id", "toks", k=_WINNOW_K, w=_WINNOW_W
    )
    return winnow_overlap_pairs(
        fps,
        "doc_id",
        min_shared=_WINNOW_MIN_SHARED,
        max_fp_docs=_WINNOW_MAX_FP_DOCS,
    )


# ---------------------------------------------------------------------------
# dedup_duplicate_spans_bytes
# ---------------------------------------------------------------------------
# Same duplicated-span splice as dedup_duplicate_spans (buddy-group
# 12-token prefix + global boilerplate sentence), but the election runs
# over 24-BYTE windows of the raw UTF-8 stream (as its hex image).
# Byte windows catch duplicates the word form cannot see — pytest pins
# a cross-tokenization case — and here they also cut the same planted
# spans at byte granularity. The oracle replays the hex-space window
# hashes with an independent winner idiom (window row_number).

_BSPAN_W = 24

_BSPAN_ORACLE = f"""
WITH fix AS (
  SELECT d.doc_id,
         d.text || ' ' ||
         array_to_string(list_slice(string_split(b.text, ' '), 1, 12), ' ')
         || ' the quick brown fox jumps over the lazy dog again and again'
           AS text
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id - d.doc_id % 10
), meta AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INT) AS nb
  FROM fix
), winds AS (
  -- window starts derived per-document from nb (no fixed byte-length cap;
  -- scalar range() accepts column bounds where the table function cannot)
  SELECT doc_id, CAST(q AS INT) AS q,
         md5(substr(hx, CAST(q * 2 + 1 AS INT), {2 * _BSPAN_W})) AS h
  FROM (
    SELECT doc_id, hx, unnest(range(0, nb - {_BSPAN_W} + 1)) AS q
    FROM meta WHERE nb >= {_BSPAN_W}
  )
), marked AS (
  SELECT doc_id, q,
         count(*) OVER (PARTITION BY h) AS n_occ,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, q) AS rn
  FROM winds
), rem AS (
  SELECT DISTINCT doc_id, CAST(q + t.k AS INT) AS p
  FROM marked CROSS JOIN range(0, {_BSPAN_W}) AS t(k)
  WHERE n_occ > 1 AND rn > 1
), cells AS (
  SELECT doc_id, CAST(i AS INT) AS p,
         substr(hx, CAST(i * 2 + 1 AS INT), 2) AS b
  FROM (SELECT doc_id, hx, unnest(range(0, nb)) AS i FROM meta)
), kept AS (
  SELECT c.doc_id, c.p, c.b FROM cells c
  ANTI JOIN rem r ON c.doc_id = r.doc_id AND c.p = r.p
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(b, '' ORDER BY p) AS text_dedup_hex
  FROM kept GROUP BY doc_id
), tot AS (
  SELECT doc_id, nb AS n_bytes FROM meta
)
SELECT tot.doc_id, tot.n_bytes,
       CAST(tot.n_bytes - coalesce(agg.n_kept, 0) AS INT) AS n_removed,
       coalesce(agg.text_dedup_hex, '') AS text_dedup_hex
FROM tot LEFT JOIN agg USING (doc_id)
ORDER BY doc_id
"""


@register("dedup_duplicate_spans_bytes", oracle=_BSPAN_ORACLE)
def dedup_duplicate_spans_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/X2 extension: byte-level ExactSubstr
    (operators/dedup.py:duplicate_span_removal_bytes — Lee et al. 2022
    operate on raw bytes). Window hashes are codegen
    md5(substring(hex)) projections over exploded starts (no
    higher-order lambdas); the election shuffles 16-byte hashes +
    (doc, pos) ids only. The oracle replays hex-space windows with a
    window row_number winner (independent idiom)."""
    from whisper_pandas_spark.operators.dedup import (
        duplicate_span_removal_bytes,
    )

    docs = table(spark, sf_dir, "documents")
    buddy = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    fix = (
        docs.join(
            buddy,
            (F.col("doc_id") - F.col("doc_id") % 10) == F.col("bid"),
        )
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(
                    F.slice(F.split(F.col("btext"), " ", -1), 1, 12), " "
                ),
                F.lit(
                    " the quick brown fox jumps over the lazy dog"
                    " again and again"
                ),
            ).alias("text"),
        )
    )
    return duplicate_span_removal_bytes(
        fix, "doc_id", "text", window=_BSPAN_W
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# er_record_linkage / er_golden_record — shared oracle CTEs
# ---------------------------------------------------------------------------


def _cities_sql() -> str:
    return "list_value(" + ", ".join(f"'{c}'" for c in L.CITIES) + ")"


def _er_cte() -> str:
    """CTEs replaying synthesis -> corruption -> blocking -> scoring.

    Every derived byte re-derives from md5 hex exactly as the engine
    does (the span-corruption idiom); all arithmetic is BIGINT, all
    comparisons integer/string — nothing to drift."""
    return f"""
WITH hashed AS (
  SELECT c_custkey AS key, c_nationkey AS nation, c_name AS name,
    ('0x' || substr(md5('er:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
      AS h,
    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
    c_mktsegment AS seg
  FROM customer
), base AS (
  SELECT key, nation, name,
    lpad(CAST(h % 1000000000 AS VARCHAR), 9, '0') AS phone,
    CAST(h % 24 AS INT) AS city_idx, bal_cents, seg
  FROM hashed
), clean AS (
  SELECT key AS rec_id, 'clean' AS src, nation, name, phone,
    ({_cities_sql()})[city_idx + 1] AS city, bal_cents, seg
  FROM base
), dirty0 AS (
  SELECT *,
    ('0x' || substr(md5('erc:' || CAST(key AS VARCHAR)), 1, 15))::BIGINT
      AS h2
  FROM base WHERE key % {L.DIRTY_MOD} = 0
), dirty1 AS (
  SELECT *, CAST(h2 % 9 + 1 AS INT) AS p,
    CAST((h2 // 9) % 9 + 10 AS INT) AS q
  FROM dirty0
), dirty AS (
  SELECT key + {L.DIRTY_OFFSET} AS rec_id, 'dirty' AS src, nation,
    substr(name, 1, q - 1) || substr(name, q + 1, 18) AS name,
    substr(phone, 1, p - 1)
      || CAST((CAST(substr(phone, p, 1) AS INT) + 1) % 10 AS VARCHAR)
      || substr(phone, p + 1, 9) AS phone,
    ({_cities_sql()})[
      (CASE WHEN (h2 // 81) % 5 = 0 THEN (city_idx + 1) % 24
            ELSE city_idx END) + 1] AS city,
    bal_cents + ((h2 // 405) % 199 - 99) AS bal_cents, seg
  FROM dirty1
), cands AS (
  SELECT DISTINCT c.rec_id AS c_id, d.rec_id AS d_id,
    c.name AS c_name, d.name AS d_name, c.phone AS c_phone,
    d.phone AS d_phone, c.city AS c_city, d.city AS d_city,
    c.bal_cents AS c_bal, d.bal_cents AS d_bal,
    c.seg AS c_seg, d.seg AS d_seg
  FROM clean c JOIN dirty d ON c.nation = d.nation
   AND (substr(c.phone, 1, 4) = substr(d.phone, 1, 4)
        OR (c.city = d.city AND substr(c.phone, 7, 3) = substr(d.phone, 7, 3)))
), scored AS (
  SELECT c_id, d_id,
    CAST(
      (CASE WHEN c_phone = d_phone THEN {L.W_PHONE_EXACT}
            WHEN levenshtein(c_phone, d_phone) <= 1 THEN {L.W_PHONE_CLOSE}
            ELSE {L.W_PHONE_DIFF} END)
      + (CASE WHEN levenshtein(c_name, d_name) <= 2 THEN {L.W_NAME_CLOSE}
              ELSE {L.W_NAME_DIFF} END)
      + (CASE WHEN c_city = d_city THEN {L.W_CITY_EQ} ELSE {L.W_CITY_NE} END)
      + (CASE WHEN abs(c_bal - d_bal) <= 100 THEN {L.W_BAL_CLOSE}
              ELSE {L.W_BAL_FAR} END)
      + (CASE WHEN c_seg = d_seg THEN {L.W_SEG_EQ} ELSE {L.W_SEG_NE} END)
    AS INT) AS score
  FROM cands
), classed AS (
  SELECT c_id, d_id, score,
    CASE WHEN score >= {L.MATCH_T} THEN 'match'
         WHEN score >= {L.POSSIBLE_T} THEN 'possible'
         ELSE 'nonmatch' END AS cls,
    CAST(d_id - {L.DIRTY_OFFSET} = c_id AS INT) AS is_true
  FROM scored
)
"""


_ER_ORACLE = (
    _er_cte()
    + """
SELECT c_id, d_id, score, cls, is_true FROM classed
ORDER BY c_id, d_id
"""
)


@register("er_record_linkage", oracle=_ER_ORACLE)
def er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y167: Fellegi-Sunter record linkage (operators/linkage.py) —
    two blocked equi-join passes generate candidates (never a
    cartesian), integer log-odds field weights score them (levenshtein
    / equality / cents-distance, all JVM codegen), the FS two-threshold
    rule classifies, and the planted ground truth rides along as
    is_true so blocking recall and match precision stay inside the
    hash-checked result. The oracle replays synthesis, corruption,
    blocking and scoring byte-for-byte from the same md5 arithmetic."""
    cust = table(spark, sf_dir, "customer")
    recs = L.er_records(cust)
    scored = L.er_score_pairs(L.er_candidates(recs))
    return scored.orderBy("c_id", "d_id")


_GOLDEN_ORACLE = (
    _er_cte()
    + f"""
, best AS (
  SELECT d_id, c_id AS entity_id FROM (
    SELECT d_id, c_id, row_number() OVER (
        PARTITION BY d_id ORDER BY score DESC, c_id) AS rn
    FROM classed WHERE cls = 'match')
  WHERE rn = 1
), records AS (
  SELECT rec_id, src, name, bal_cents FROM clean
  UNION ALL
  SELECT rec_id, src, name, bal_cents FROM dirty
), members AS (
  SELECT CASE WHEN r.src = 'clean' THEN r.rec_id
              ELSE coalesce(b.entity_id, r.rec_id) END AS entity_id,
         r.name, r.bal_cents
  FROM records r LEFT JOIN best b ON r.rec_id = b.d_id
), ranked AS (
  SELECT entity_id,
    row_number() OVER (PARTITION BY entity_id
                       ORDER BY length(name) DESC, name) AS rn,
    CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS n_members,
    max(bal_cents) OVER (PARTITION BY entity_id) AS golden_bal_cents,
    name AS golden_name
  FROM members
)
SELECT entity_id, n_members, golden_name, golden_bal_cents
FROM ranked WHERE rn = 1 ORDER BY entity_id
"""
)


@register("er_golden_record", oracle=_GOLDEN_ORACLE)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y168: survivorship over the linkage 'match' class
    (operators/linkage.py:er_golden_records) — every dirty record joins
    its best match (max score, min master tiebreak: a deterministic
    argmax via one row_number window), unmatched records stand alone,
    and golden attributes follow pinned rules (longest-then-min name,
    max balance). One window shuffle on entity_id resolves the whole
    corpus; payloads never fan out."""
    cust = table(spark, sf_dir, "customer")
    recs = L.er_records(cust)
    scored = L.er_score_pairs(L.er_candidates(recs))
    return L.er_golden_records(recs, scored).orderBy("entity_id")


# ---------------------------------------------------------------------------
# stream_er_linkage_replay
# ---------------------------------------------------------------------------


@register("stream_er_linkage_replay", oracle=_ER_ORACLE)
def stream_er_linkage_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+/Y171: STREAMING record linkage (streaming/linkage.py) —
    dirty records arrive in 4 micro-batches and link against the
    static clean master through the SAME er_candidates/er_score_pairs
    code paths; the pairs state upserts idempotently on (c_id, d_id).
    Because blocking + scoring are pure per-pair functions, per-batch
    linkage commutes with any batching of the dirty stream — so the
    oracle is the batch entry's oracle VERBATIM, and a full reprocess
    with a fresh checkpoint (run here) provably lands in unchanged
    state. The master never enters state; pairs carry ids + score
    only."""
    from whisper_pandas_spark.streaming.linkage import (
        linkage_read_off,
        stream_linkage,
    )

    cust = table(spark, sf_dir, "customer")
    recs = stage_materialize(L.er_records(cust))
    clean = recs.filter(F.col("src") == "clean")
    dirty = recs.filter(F.col("src") == "dirty")
    n_hi = dirty.agg(F.max("rec_id")).collect()[0][0] - L.DIRTY_OFFSET
    step = max(1, (int(n_hi) + 4) // 4)
    frames = []
    for i in range(4):
        lo = L.DIRTY_OFFSET + i * step
        cond = F.col("rec_id") >= lo
        if i < 3:
            cond = cond & (F.col("rec_id") < lo + step)
        frames.append(dirty.filter(cond))
    # the second pass reprocesses the whole stream under a fresh
    # checkpoint: every pair re-derives and anti-joins away — state
    # provably unchanged under the hash gate
    d = replay(
        spark,
        frames,
        lambda sdf, d, ckpt: stream_linkage(
            sdf, clean, f"{d}/state", checkpoint_dir=ckpt
        ),
        passes=2,
    )
    return linkage_read_off(spark, f"{d}/state")
