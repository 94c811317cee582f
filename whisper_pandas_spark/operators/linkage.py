"""Fellegi-Sunter record linkage: multi-pass blocking + integer
log-odds field scoring + two-threshold classification + survivorship.

The one data-engineering family the registry did not yet cover (checked
before building: ``levenshtein`` appears only inside the text dedup
families; no entry links STRUCTURED records across two sources).
Everything here is the published probabilistic-linkage recipe
(Fellegi & Sunter 1969; the Febrl/splink formulation):

- **Synthesis** (`er_records`): the TPC-H customer table carries too few
  string fields for realistic linkage, so the operator derives a
  phone + city per customer from md5(custkey) — pure codegen
  (``hash64`` of functions/hashing.py, the span-corruption idiom) so
  DuckDB replays every derived byte. A deterministic 25% "dirty" source
  is planted the way ER benchmarks (Febrl, North-Carolina voters) are
  built: one phone digit bumped, one name char deleted, city swapped
  for 1 in 5, balance jittered ±99 cents — each edit position/amount
  taken from an independent div-slice of a second hash, so the oracle
  replays the corruption too.
- **Blocking** (`er_candidates`): two passes — (nation, phone[1:4]) and
  (nation, city, phone[7:9]) — unioned and de-duplicated. A pair is
  compared only when SOME pass co-blocks it: the standard
  recall-for-candidates trade, REPORTED per pair by ``is_true`` rather
  than hidden (planted recall ≈ 91%: both passes miss only when the
  bumped digit sits in the prefix AND the city was swapped).
- **Scoring** (`er_score_pairs`): per-field agreement weights as
  INTEGER log-odds×10 literals (agreement m/u ratios documented below;
  integers keep the driver hash exact). Phone gets a graded band
  (exact / levenshtein≤1 / other), name a levenshtein≤2 band — both
  engines ship the same classic edit distance.
- **Classification**: score ≥ MATCH_T → 'match', ≥ POSSIBLE_T →
  'possible', else 'nonmatch' — the FS two-threshold decision rule.
- **Survivorship** (`er_golden_records`): every clean record masters an
  entity; each dirty record joins its best match (max score, min
  clean_id tiebreak — deterministic argmax); unmatched dirty records
  become singleton entities. Golden attributes follow pinned rules:
  longest-then-lexicographic-min name, maximum balance (in cents),
  member count.

Scale: blocking keys bound every block — (nation, phone4) gives
25·10^4 buckets, (nation, city, phone3) 25·24·10^3 — so candidate
generation is an equi-join, never a cartesian; at 100 TB the keys
widen (phone5/6) exactly like the LSH band knobs. Shuffles carry the
blocking keys + the few linkage fields, never document payloads. The
scoring stage is pure codegen (levenshtein/abs/CASE are JVM
built-ins); no Python touches data anywhere in the family.

No reference-repo parity: whisper_pandas (299-line .wsp decoder) has no
record surface; this backs SURVEY.md §2.11 (training-data pipeline
extensions — entity resolution is the canonical metadata-curation op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.functions.hashing import hash64

#: Pinned city vocabulary (24 — chosen co-prime with nothing relevant;
#: index = h % 24). Names are arbitrary labels, only equality matters.
CITIES = (
    "Aberdeen", "Bristol", "Cardiff", "Derby", "Exeter", "Falkirk",
    "Glasgow", "Hull", "Inverness", "Jarrow", "Kendal", "Leeds",
    "Margate", "Norwich", "Oxford", "Preston", "Quorn", "Reading",
    "Stirling", "Truro", "Uxbridge", "Ventnor", "Wells", "York",
)

#: Dirty-source sampling: custkey % DIRTY_MOD == 0 gets a perturbed twin.
DIRTY_MOD = 4
#: rec_id offset for the dirty source (keeps both id spaces disjoint).
DIRTY_OFFSET = 100_000_000

# Agreement weights: log10(m/u)*10 rounded to ints, m/u documented from
# the planted corruption model (m: P(level | true pair) — e.g. phone
# lev<=1 is certain for true pairs; u: P(level | random co-blocked
# pair) — e.g. a random phone collides at ~1e-2 within a prefix block).
W_PHONE_EXACT = 22
W_PHONE_CLOSE = 15  # levenshtein <= 1
W_PHONE_DIFF = -7
W_NAME_CLOSE = 18  # levenshtein <= 2
W_NAME_DIFF = -6
W_CITY_EQ = 8
W_CITY_NE = -3
W_BAL_CLOSE = 6  # |diff| <= 100 cents
W_BAL_FAR = -2
W_SEG_EQ = 4
W_SEG_NE = -2

#: FS decision thresholds (a true pair scores 40 even when its city was
#: swapped and its blocking survived only via the phone prefix).
MATCH_T = 38
POSSIBLE_T = 18


def _h(tag: str, key_col: str) -> F.Column:
    """60-bit deterministic hash both engines replay byte-identically."""
    return hash64(F.concat(F.lit(tag), F.col(key_col).cast("string")))


def er_records(customer: DataFrame) -> DataFrame:
    """The two linkage sources as ONE tagged frame:
    ``(rec_id, src, nation, name, phone, city, bal_cents, seg)``.

    Clean side = every customer with the derived phone/city; dirty side
    = the planted perturbed twin of every DIRTY_MOD-th customer.
    Everything is codegen string/int arithmetic on the scan — the
    synthesis is a free rider on the customer read.
    """
    h = _h("er:", "c_custkey")
    base = customer.select(
        F.col("c_custkey").alias("key"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_name").alias("name"),
        F.lpad((h % 1_000_000_000).cast("string"), 9, "0").alias("phone"),
        (h % 24).cast("int").alias("city_idx"),
        F.round(F.col("c_acctbal") * 100)
        .cast("bigint")
        .alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    cities = F.array(*[F.lit(c) for c in CITIES])
    clean = base.select(
        F.col("key").alias("rec_id"),
        F.lit("clean").alias("src"),
        "nation",
        "name",
        "phone",
        F.element_at(cities, F.col("city_idx") + 1).alias("city"),
        "bal_cents",
        "seg",
    )
    # Independent edit coordinates from div-slices of ONE corruption
    # hash (h2 div 9 etc. are exact BIGINT floor divisions — never
    # float division, which loses integer precision past 2^53).
    dirty = (
        base.filter(F.col("key") % DIRTY_MOD == 0)
        .withColumn("h2", _h("erc:", "key"))
        .withColumn("p", F.expr("CAST(h2 % 9 + 1 AS INT)"))
        .withColumn("q", F.expr("CAST((h2 div 9) % 9 + 10 AS INT)"))
        .withColumn(
            "nd",
            F.expr("CAST((CAST(substr(phone, p, 1) AS INT) + 1) % 10"
                   " AS STRING)"),
        )
        .select(
            (F.col("key") + DIRTY_OFFSET).alias("rec_id"),
            F.lit("dirty").alias("src"),
            "nation",
            F.expr("substr(name, 1, q - 1) || substr(name, q + 1, 18)").alias(
                "name"
            ),
            F.expr(
                "substr(phone, 1, p - 1) || nd || substr(phone, p + 1, 9)"
            ).alias("phone"),
            F.element_at(
                cities,
                F.when(
                    F.expr("(h2 div 81) % 5") == 0,
                    (F.col("city_idx") + 1) % 24,
                )
                .otherwise(F.col("city_idx"))
                .cast("int")
                + 1,
            ).alias("city"),
            (
                F.col("bal_cents") + F.expr("(h2 div 405) % 199 - 99")
            ).alias("bal_cents"),
            "seg",
        )
    )
    return clean.unionByName(dirty)


def er_candidates(records: DataFrame) -> DataFrame:
    """Blocked clean x dirty candidate pairs, both passes unioned:
    ``(c_id, d_id)`` plus the linkage fields of each side (pairs hit
    by both blocks appear twice — er_score_pairs dedups after scoring,
    on narrow columns). Equi-joins only — block keys bound the
    fan-out."""
    clean = records.filter(F.col("src") == "clean").select(
        F.col("rec_id").alias("c_id"),
        F.col("nation").alias("c_nation"),
        F.col("name").alias("c_name"),
        F.col("phone").alias("c_phone"),
        F.col("city").alias("c_city"),
        F.col("bal_cents").alias("c_bal"),
        F.col("seg").alias("c_seg"),
    )
    dirty = records.filter(F.col("src") == "dirty").select(
        F.col("rec_id").alias("d_id"),
        F.col("nation").alias("d_nation"),
        F.col("name").alias("d_name"),
        F.col("phone").alias("d_phone"),
        F.col("city").alias("d_city"),
        F.col("bal_cents").alias("d_bal"),
        F.col("seg").alias("d_seg"),
    )
    pass_a = clean.join(
        dirty,
        (F.col("c_nation") == F.col("d_nation"))
        & (
            F.substring(F.col("c_phone"), 1, 4)
            == F.substring(F.col("d_phone"), 1, 4)
        ),
    )
    pass_b = clean.join(
        dirty,
        (F.col("c_nation") == F.col("d_nation"))
        & (F.col("c_city") == F.col("d_city"))
        & (
            F.substring(F.col("c_phone"), 7, 3)
            == F.substring(F.col("d_phone"), 7, 3)
        ),
    )
    # NOTE: a pair matching BOTH block passes appears twice here; the
    # dedup happens AFTER scoring (er_score_pairs) where the exchange
    # carries five narrow columns instead of both sides' full linkage
    # fields (guide §2.3: shuffle fewer bytes — round 14). Scoring is
    # deterministic in the pair fields, so the duplicate rows collapse
    # to identical scored rows and the result set is unchanged.
    cols = pass_a.columns
    return pass_a.select(*cols).unionByName(pass_b.select(*cols))


def er_score_pairs(cands: DataFrame) -> DataFrame:
    """Integer FS score + two-threshold class per candidate pair:
    ``(c_id, d_id, score, cls, is_true)`` — is_true flags the planted
    ground truth so recall/precision stay in the checked result."""
    lev_phone = F.levenshtein(F.col("c_phone"), F.col("d_phone"))
    lev_name = F.levenshtein(F.col("c_name"), F.col("d_name"))
    score = (
        F.when(F.col("c_phone") == F.col("d_phone"), W_PHONE_EXACT)
        .when(lev_phone <= 1, W_PHONE_CLOSE)
        .otherwise(W_PHONE_DIFF)
        + F.when(lev_name <= 2, W_NAME_CLOSE).otherwise(W_NAME_DIFF)
        + F.when(F.col("c_city") == F.col("d_city"), W_CITY_EQ).otherwise(
            W_CITY_NE
        )
        + F.when(
            F.abs(F.col("c_bal") - F.col("d_bal")) <= 100, W_BAL_CLOSE
        ).otherwise(W_BAL_FAR)
        + F.when(F.col("c_seg") == F.col("d_seg"), W_SEG_EQ).otherwise(
            W_SEG_NE
        )
    ).cast("int")
    return cands.select(
        "c_id",
        "d_id",
        score.alias("score"),
        F.when(score >= MATCH_T, "match")
        .when(score >= POSSIBLE_T, "possible")
        .otherwise("nonmatch")
        .alias("cls"),
        (F.col("d_id") - DIRTY_OFFSET == F.col("c_id"))
        .cast("int")
        .alias("is_true"),
    ).distinct()


def er_golden_records(records: DataFrame, scored: DataFrame) -> DataFrame:
    """Survivorship: ``(entity_id, n_members, golden_name,
    golden_bal_cents)`` — one row per resolved entity.

    Every clean record masters an entity. A dirty record joins its
    best 'match' (max score, min c_id tiebreak); otherwise it stands
    alone. Golden name = longest-then-lexicographic-min member name;
    golden balance = max member balance.
    """
    matches = scored.filter(F.col("cls") == "match")
    best = (
        matches.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("d_id").orderBy(
                    F.col("score").desc(), F.col("c_id")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("d_id", F.col("c_id").alias("entity_id"))
    )
    members = records.join(
        best, records["rec_id"] == best["d_id"], "left"
    ).select(
        F.when(F.col("src") == "clean", F.col("rec_id"))
        .otherwise(F.coalesce(F.col("entity_id"), F.col("rec_id")))
        .alias("entity_id"),
        "name",
        "bal_cents",
    )
    w = Window.partitionBy("entity_id")
    ranked = members.select(
        "entity_id",
        F.row_number()
        .over(w.orderBy(F.length("name").desc(), F.col("name")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_members"),
        F.max("bal_cents").over(w).alias("golden_bal_cents"),
        F.col("name").alias("golden_name"),
    )
    return ranked.filter(F.col("rn") == 1).drop("rn")
