"""Registry entries: batch replays of the §2.9 Structured Streaming
operators (rollup, interval join, incremental near-dup, sessions, CDC
merge, change points, top-k, perceptual dedup, curation).

Structured Streaming can't run inside the driver's DuckDB oracle
harness, so each entry REPLAYS the real streaming query (readStream →
withWatermark → stateful operator) over a static table with
``Trigger.AvailableNow`` and returns the drained result as a batch
DataFrame. The stream is equal to its batch twin, so the entry carries
the batch entry's full SQL oracle — a hash-match CORRECTNESS row, not
just a rows-only count. Replays of a sketch, KN-count, entity-resolution
or attribution operator live next to their batch twin, in the domain
module that owns the shared oracle.

Scale: availableNow is exactly how a 100 TB backfill runs in production —
the same streaming query graph, bounded input, watermark-bounded state;
one code path for live and replay is the point of Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import (
    change_stream,
    drain_to_memory,
    register,
    replay,
    scratch_once,
    table,
)
from whisper_pandas_spark.functions.text import duck_minhash_pairs_ctes
from whisper_pandas_spark.stage import stage_materialize


_SINK = "stream_rollup_replay_sink"
_RES = 3600  # same 1-hour tumbling window as the batch rollup family

# Same oracle as rollup_average (queries_rollup._oracle_rollup("average")),
# inlined so the domain modules import only leaf modules. Parity of the
# two strings is asserted in tests/test_streaming.py.
_ORACLE = f"""SELECT event_type, (CAST(floor(epoch(ts)) AS BIGINT) // {_RES}) * {_RES} AS bucket_epoch, round(avg(value) + 1e-9, 6) AS value, count(value) AS n_points
FROM events
GROUP BY event_type, bucket_epoch
ORDER BY event_type, bucket_epoch"""


@register("stream_rollup_replay", oracle=_ORACLE)
def stream_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver-visible row: the watermarked streaming rollup replayed
    over the static events table via availableNow + memory sink. Complete
    output mode re-emits all windows at end-of-replay (append mode would
    hold back windows the final watermark hasn't passed)."""
    from whisper_pandas_spark.sources.tables import stream_events
    from whisper_pandas_spark.streaming.rollup import streaming_rollup

    sdf = stream_events(spark, sf_dir)
    out = streaming_rollup(
        sdf,
        _RES,
        "average",
        keys=("event_type",),
        ts_col="ts",
        value_col="value",
        watermark="1 hour",
    )
    return (
        drain_to_memory(out, _SINK, "complete")
        .select(
            "event_type",
            F.unix_timestamp("bucket").alias("bucket_epoch"),
            # + 1e-9 boundary bias, matching _spark_rollup (round 13)
            F.round(F.col("value") + F.lit(1e-9), 6).alias("value"),
            "n_points",
        )
        .orderBy("event_type", "bucket_epoch")
    )


_JOIN_SINK = "stream_interval_join_replay_sink"
_JOIN_UB = 3600  # seconds: purchase within an hour of the click


@register(
    "stream_interval_join_replay",
    oracle=f"""
SELECT l.user_id,
       l.event_id AS click_id,
       CAST(floor(epoch(l.ts)) AS BIGINT) AS click_epoch,
       r.event_id AS purchase_id,
       CAST(floor(epoch(r.ts)) AS BIGINT) AS purchase_epoch
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL {_JOIN_UB} SECOND
ORDER BY l.user_id, click_id, purchase_id
""",
)
def stream_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9: the stream-stream interval join (streaming/joins.py —
    watermark-bounded state on both sides) replayed over the static
    events table: clicks joined to purchases by the same user within an
    hour. An inner join's result SET is order-independent, so the replay
    is deterministic and carries a plain SQL join oracle — the strongest
    correctness statement available for a stream-stream operator."""
    from whisper_pandas_spark.sources.tables import stream_events
    from whisper_pandas_spark.streaming.joins import stream_interval_join

    def side(event_type: str, prefix: str) -> DataFrame:
        sdf = stream_events(spark, sf_dir)
        return sdf.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    joined = stream_interval_join(
        side("click", "click"),
        side("purchase", "purchase"),
        on="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        lower_seconds=0,
        upper_seconds=_JOIN_UB,
        watermark="1 hour",
    )
    return (
        drain_to_memory(joined, _JOIN_SINK, "append")
        .select(
            "user_id",
            "click_id",
            F.unix_timestamp("click_ts").alias("click_epoch"),
            "purchase_id",
            F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


# Same MinHash/LSH parameters as the batch dedup family (queries_dedup);
# the shared oracle builder lives in functions/text.py so this module
# doesn't import queries_dedup (registration order stays put). Parameter
# parity with the batch entry is asserted in tests/test_streaming.py.
_ND_NUM_PERM, _ND_BANDS, _ND_ROWS, _ND_JACCARD_T = 12, 4, 3, 0.8


@register(
    "stream_near_dup_replay",
    oracle=f"""
WITH {duck_minhash_pairs_ctes(_ND_NUM_PERM, _ND_BANDS, _ND_ROWS, _ND_JACCARD_T)}
SELECT doc_i, doc_j, jaccard FROM mh_pairs ORDER BY doc_i, doc_j
""",
)
def stream_near_dup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × §2.10: the INCREMENTAL MinHash-LSH near-dup stream
    (streaming/dedup.py — foreachBatch around the batch operators with a
    persistent signature store) replayed over `documents` split into 3
    files (doc_id mod 3), one per micro-batch, so the store really
    grows across micro-batches. A pair is emitted exactly once, in the
    micro-batch where the YOUNGER side arrives; band assignment and the
    Jaccard verify are deterministic per document, so the union of all
    emissions equals the batch lsh_pairs over the full corpus — the same
    full algorithm-replication oracle as dedup_minhash_lsh. The pairs
    are built once per process per sf_dir."""
    from whisper_pandas_spark.streaming.dedup import stream_near_dup

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(d: str) -> None:
        replay(
            spark,
            [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)],
            lambda sdf, _src, ckpt: stream_near_dup(
                sdf,
                pairs_dir=f"{d}/pairs",
                sig_store_dir=f"{d}/sigs",
                checkpoint_dir=ckpt,
                num_perm=_ND_NUM_PERM,
                bands=_ND_BANDS,
                rows=_ND_ROWS,
                jaccard_threshold=_ND_JACCARD_T,
            ),
        )

    d = scratch_once("wps_stream_neardup_", sf_dir, build)
    return (
        spark.read.parquet(f"{d}/pairs")
        .select("doc_i", "doc_j", "jaccard")
        .orderBy("doc_i", "doc_j")
    )


_EW_SINK = "stream_ewma_replay_sink"
_EW_ALPHA = 0.25  # exact binary: 1 - alpha = 0.75 is exact too
_EW_BASE = 1_700_000_000
_EW_CAP = 400  # points per metric (bounds the oracle's O(n^2) prefix folds)

_EW_ORACLE = f"""
WITH pts AS (
  SELECT event_type AS metric,
         {_EW_BASE} + 10 * row_number() OVER (PARTITION BY event_type
                                              ORDER BY event_id) AS epoch,
         round(value, 6) AS value
  FROM events
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY event_id)
          <= {_EW_CAP}
), arrs AS (
  SELECT metric,
         list(value ORDER BY epoch) AS vs,
         list(epoch ORDER BY epoch) AS es
  FROM pts GROUP BY metric
), ew AS (
  SELECT metric, es, vs,
         list_transform(range(1, len(vs) + 1),
           i -> list_reduce(list_slice(vs, 1, i),
                            (acc, x) -> {_EW_ALPHA} * x
                                        + {1.0 - _EW_ALPHA} * acc)) AS ems
  FROM arrs
)
SELECT metric,
       CAST(unnest(es) AS BIGINT) AS epoch,
       unnest(vs) AS value,
       round(unnest(ems) + 1e-9, 6) AS ewma
FROM ew ORDER BY metric, epoch
"""


@register("stream_ewma_replay", oracle=_EW_ORACLE)
def stream_ewma_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 ST3 driver-visible row: the applyInPandasWithState per-key
    EWMA (streaming/stateful.py) replayed end-to-end with a FULL value
    oracle. A deterministic per-metric time ramp from `events` is
    written as two time-ordered files and streamed one file per
    micro-batch, so state genuinely carries the running EWMA ACROSS
    batches; the oracle replays the sequential fold per point with
    DuckDB prefix list_reduce (alpha = 0.25 exactly representable, the
    fold's multiply-add order mirrored operation-for-operation)."""
    from pyspark.sql.window import Window

    from whisper_pandas_spark.streaming.stateful import streaming_ewma

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("event_type").orderBy("event_id")
    pts = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EW_CAP)
        .select(
            F.col("event_type").alias("metric"),
            F.timestamp_seconds(F.lit(_EW_BASE) + 10 * F.col("rn")).alias(
                "timestamp"
            ),
            F.round("value", 6).alias("value"),
            "rn",
        )
    )
    sdf = change_stream(
        spark,
        [
            pts.filter(F.col("rn") <= _EW_CAP // 2).drop("rn"),
            pts.filter(F.col("rn") > _EW_CAP // 2).drop("rn"),
        ],
    )
    out = streaming_ewma(sdf, alpha=_EW_ALPHA)
    return (
        drain_to_memory(out, _EW_SINK, "append")
        .select(
            "metric",
            F.unix_timestamp("timestamp").alias("epoch"),
            "value",
            F.round(F.col("ewma") + F.lit(1e-9), 6).alias("ewma"),
        )
        .orderBy("metric", "epoch")
    )


# -- streaming session-window replay ---------------------------------------

_SESS_SINK = "stream_session_replay_sink"


@register(
    "stream_session_replay",
    oracle="""
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grp AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), sess AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events,
         round(sum(value), 6) AS sum_value
  FROM grp GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events, sum_value
FROM sess
WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
ORDER BY user_id, session_start
""",
)
def stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: NATIVE streaming sessionization (`F.session_window`, gap
    30 min) replayed over the static events table — availableNow +
    memory sink in APPEND mode, so only sessions the final watermark
    (max ts − 1 h) has closed emit; the oracle replays the same rule as
    gaps-and-islands SQL (new session at gap ≥ 30 min — session_window's
    end is exclusive) plus the same watermark cutoff.

    Boundary note: Spark's internal watermark is ms-truncated; a session
    ending inside the sub-millisecond slice between the truncated and
    exact cutoff would diverge — impossible at the registered fixtures'
    microsecond-jittered timestamps.

    Scale: state = open sessions only (bounded by watermark); sessions
    merge map-side per user partition. The production backfill shape for
    user-journey extraction over a 100 TB event log."""
    from whisper_pandas_spark.sources.tables import stream_events

    sdf = stream_events(spark, sf_dir)
    out = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    return (
        drain_to_memory(out, _SESS_SINK, "append")
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# -- streaming CDC apply: change log -> copy-on-write parquet table --------


@register(
    "stream_merge_replay",
    """
SELECT doc_id AS k,
       CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS v
FROM documents
WHERE doc_id % 5 = 0 AND doc_id % 15 <> 0
ORDER BY k
""",
)
def stream_merge_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: the streaming CDC sink (streaming/sink.py:
    stream_merge_into_parquet) replayed end-to-end — a deterministic
    change log derived from `documents` (inserts for doc_id%5==0, then
    updates for %10==0 and deletes for %15==0 at higher sequence
    numbers) streams through foreachBatch merges into a versioned
    copy-on-write parquet table; the entry returns the FINAL visible
    state (read_current_state hides tombstones + bookkeeping). Robust
    to micro-batch geometry AND order: whole-row per-key max_by(seq)
    compression plus the sequence-aware tombstone merge make any batch
    split or delivery order of the log converge to the state the
    oracle computes relationally."""
    from whisper_pandas_spark.operators.merge import read_current_state
    from whisper_pandas_spark.streaming.sink import stream_merge_into_parquet

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    c1 = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("k"),
        F.col("n_chars").alias("v"),
        F.col("doc_id").alias("seq"),
        F.lit(False).alias("del"),
    )
    c2 = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            F.col("doc_id").alias("k"),
            (F.col("n_chars") + 1000).alias("v"),
            (F.col("doc_id") + 100000).alias("seq"),
            F.lit(False).alias("del"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 15 == 0).select(
                F.col("doc_id").alias("k"),
                F.lit(None).cast("long").alias("v"),
                (F.col("doc_id") + 200000).alias("seq"),
                F.lit(True).alias("del"),
            )
        )
    )
    d = replay(
        spark,
        [c1, c2],
        lambda sdf, d, ckpt: stream_merge_into_parquet(
            sdf, f"{d}/table", "k", "seq", delete_col="del", checkpoint_dir=ckpt
        ),
    )
    return (
        read_current_state(spark, f"{d}/table", delete_col="del", seq_col="seq")
        .select("k", "v")
        .orderBy("k")
    )


# -- streaming changepoint-state maintenance --------------------------------------


@register(
    "stream_changepoint_replay",
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('day', ts) AS bucket_ts,
         sum(CAST(round(value * 1000) AS BIGINT)) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2
), c AS (
  SELECT event_type, bucket_ts, y,
         row_number() OVER w AS t,
         sum(y) OVER w AS s_t,
         count(*) OVER (PARTITION BY event_type) AS n_buckets,
         sum(y) OVER (PARTITION BY event_type) AS s_n
  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
), s AS (
  SELECT *, abs(n_buckets * s_t - t * s_n) AS d_abs FROM c
  WHERE n_buckets >= 3 AND t < n_buckets
), r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY d_abs DESC, t) AS rnk
  FROM s
)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(s_n AS BIGINT) AS s_n, bucket_ts AS cp_bucket,
       CAST(d_abs AS BIGINT) AS d_stat
FROM r WHERE rnk = 1
ORDER BY event_type
""",
)
def stream_changepoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST+: streaming changepoint-state maintenance
    (streaming/changepoint.py:stream_bucket_sums_update) replayed end
    to end — `events` split into two change files streams through
    foreachBatch additive bucket-sum merges into the versioned state
    (exactly-once via checkpoint-scoped batch markers), then the shift
    detector (operators/changepoint.py:cusum_from_buckets) runs over
    the final state. Integer addition is exact, so the maintained
    state equals the batch recompute and the oracle recomputes the
    identical argmax from raw data — proving batch bucketing, additive
    merge, version flips, AND the detector in one check."""
    from whisper_pandas_spark.operators.changepoint import cusum_from_buckets
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.changepoint import (
        stream_bucket_sums_update,
    )

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    d = replay(
        spark,
        [ev.filter(F.col("event_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_bucket_sums_update(
            sdf,
            f"{d}/state",
            ("event_type",),
            "ts",
            "value",
            bucket="day",
            scale=1000,
            checkpoint_dir=ckpt,
        ),
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    return cusum_from_buckets(state, ["event_type"], min_buckets=3).orderBy(
        "event_type"
    )


# -- streaming heavy-hitters maintenance ---------------------------------------------


@register(
    "stream_topk_replay",
    oracle="""
WITH c AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
), r AS (
  SELECT lang, source, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, source) AS rnk
  FROM c
)
SELECT lang, CAST(rnk AS INT) AS rnk, source AS item,
       CAST(n AS BIGINT) AS count_lo, CAST(n AS BIGINT) AS count_hi
FROM r WHERE rnk <= 5 ORDER BY lang, rnk
""",
)
def stream_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST+: streaming heavy-hitters maintenance
    (streaming/sketches.py:stream_topk_update) replayed end to end —
    `documents` split into two change files streams through
    foreachBatch space-saving merges into the versioned top-k state
    (exactly-once batch markers; the merge is additive), then the
    merged state reads off per-lang top-5 sources via topk_rollup.
    Capacity 32 exceeds the ~20 distinct sources per lang, so the
    whole run stays in the exact regime (rest_max = 0, lo == hi ==
    true count) and the oracle is the plain relational top-k —
    completing the streaming-sketch family (additive histogram,
    idempotent KMV, merge-truncated top-k)."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.operators.sketches import topk_rollup
    from whisper_pandas_spark.streaming.sketches import stream_topk_update

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    d = replay(
        spark,
        [docs.filter(F.col("doc_id") % 2 == r) for r in (0, 1)],
        lambda sdf, d, ckpt: stream_topk_update(
            sdf, f"{d}/state", ("lang",), "source", 32, checkpoint_dir=ckpt
        ),
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    return topk_rollup(state, ("lang",), 5).orderBy("lang", "rnk")


# ---------------------------------------------------------------------------
# stream_phash_dedup — streaming perceptual registry (idempotent)
# ---------------------------------------------------------------------------
# Batch 1 streams the base PGM images, batch 2 their perturbed twins;
# the registry accepts batch-1 uniques (exact-dhash min-id within the
# batch) and rejects every twin (hamming <= 6 of a registered
# fingerprint — banding is complete at <= 7). The whole stream is then
# deliberately REPROCESSED with a fresh checkpoint: every fingerprint
# is already registered, so the state is unchanged — the idempotent
# merge law, no marker needed (the perceptual sibling of
# stream_bloom_replay). The oracle replays the two-batch construction
# over bit strings.

_STREAM_PHASH_ORACLE = """
WITH imgs AS (
  SELECT doc_id AS img_id, 0 AS pert, text FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS img_id, 1 AS pert, text
  FROM documents WHERE doc_id % 2 = 0
), px AS (
  SELECT img_id, CAST(t.i AS BIGINT) AS i,
         (ord(substr(rpad(text, 288, text), CAST(t.i + 1 AS INT), 1)) % 128
          + CASE WHEN pert = 1 AND t.i % 97 = 0 THEN 3 ELSE 0 END) % 128 AS b
  FROM imgs CROSS JOIN range(0, 288) AS t(i)
), grid AS (
  SELECT img_id, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
         CAST(sum(b) // 4 AS BIGINT) AS g
  FROM px GROUP BY 1, 2, 3
), bits AS (
  SELECT a.img_id, a.r * 8 + a.c AS k,
         CASE WHEN a.g < b.g THEN '1' ELSE '0' END AS bit
  FROM grid a JOIN grid b ON a.img_id = b.img_id AND a.r = b.r
                         AND b.c = a.c + 1
  WHERE a.c < 8
), hstr AS (
  SELECT img_id, string_agg(bit, '' ORDER BY k) AS bs FROM bits GROUP BY img_id
), s1 AS (
  SELECT min(img_id) AS img_id, bs FROM hstr WHERE img_id < 1000000 GROUP BY bs
), b2 AS (
  SELECT min(img_id) AS img_id, bs FROM hstr WHERE img_id >= 1000000 GROUP BY bs
), rej AS (
  SELECT DISTINCT b2.img_id
  FROM b2 CROSS JOIN s1
  WHERE len(list_filter(range(1, 65),
      k -> substr(b2.bs, CAST(k AS INT), 1)
           <> substr(s1.bs, CAST(k AS INT), 1))) <= 6
), acc2 AS (
  SELECT img_id, bs FROM b2 WHERE img_id NOT IN (SELECT img_id FROM rej)
), fin AS (
  SELECT img_id, bs FROM s1 UNION ALL SELECT img_id, bs FROM acc2
)
SELECT img_id, bs AS dhash_bits FROM fin ORDER BY img_id
"""


@register("stream_phash_dedup", oracle=_STREAM_PHASH_ORACLE)
def stream_phash_dedup_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+/X2: streaming perceptual-image dedup
    (streaming/phash.py:stream_phash_dedup) — a growing dHash registry
    maintained by foreachBatch: exact within-batch min-id, banded
    hamming reject against the registry, append-only versioned state.
    The stream is deliberately reprocessed into the same state
    (idempotent merge law — the perceptual sibling of
    stream_bloom_replay's structural contrast to additive CMS).
    dhash is reported LSB-first as a 64-char bit string so both engines
    compare exact fingerprints without signed-shift concerns."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.phash import stream_phash_dedup

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    base_px = F.expr(
        "array_join(transform(split(rpad(text, 288, text), ''),"
        " c -> char(ascii(c) % 128)), '')"
    )
    pert_px = F.expr(
        "array_join(transform(split(rpad(text, 288, text), ''),"
        " (c, i) -> char((ascii(c) % 128"
        "   + IF(i % 97 = 0, 3, 0)) % 128)), '')"
    )
    header = F.lit("P5\n18 16\n255\n")
    # the second pass reprocesses the whole stream under a fresh
    # checkpoint: every fingerprint re-arrives and is rejected by the
    # registry — state provably unchanged (the hash gate below would
    # catch any drift)
    d = replay(
        spark,
        [
            docs.select(
                F.col("doc_id").alias("img_id"),
                F.encode(F.concat(header, base_px), "utf-8").alias("payload"),
            ),
            docs.select(
                (F.col("doc_id") + 1000000).alias("img_id"),
                F.encode(F.concat(header, pert_px), "utf-8").alias("payload"),
            ),
        ],
        lambda sdf, d, ckpt: stream_phash_dedup(
            sdf, f"{d}/state", max_hamming=6, checkpoint_dir=ckpt
        ),
        passes=2,
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    return state.select(
        "img_id",
        F.reverse(F.lpad(F.bin("dhash"), 64, "0")).alias("dhash_bits"),
    ).orderBy("img_id")


# ---------------------------------------------------------------------------
# stream_bottomk_replay
# ---------------------------------------------------------------------------

_BK_K = 16


def _bottomk_oracle() -> str:
    return f"""
WITH h AS (
  SELECT lang AS grp, doc_id,
    ('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
  FROM documents
), r AS (
  SELECT grp, doc_id, h,
    row_number() OVER (PARTITION BY grp ORDER BY h, doc_id) AS rn
  FROM h
)
SELECT grp, doc_id, h FROM r WHERE rn <= {_BK_K}
ORDER BY grp, h, doc_id
"""


@register("stream_bottomk_replay", oracle=_bottomk_oracle())
def stream_bottomk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+: streaming per-group bottom-k uniform-sample maintenance
    (streaming/sketches.py:stream_bottomk_update) replayed end-to-end —
    per-batch hashing, bottom-k set-merge into versioned state, then
    the WHOLE stream deliberately reprocessed through a second pass
    under a fresh checkpoint: bottom-k over a union is idempotent
    (bk(S∪S)=bk(S)), so the double-processed state still equals the
    direct batch bottom-k the oracle computes — the sampling face of
    the HLL/Bloom/KMV idempotent-merge family, vs the marker-protected
    additive CMS/KN. State is O(groups x k); the per-batch window runs
    over (prior ∪ batch), never the stream's history."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.sketches import stream_bottomk_update

    items = (
        table(spark, sf_dir, "documents")
        .select(F.col("lang").alias("grp"), "doc_id")
        .withColumn("row_id", F.monotonically_increasing_id())
    )
    # the second pass reprocesses the whole stream under a FRESH
    # checkpoint: harmless by idempotence
    d = replay(
        spark,
        [items.filter(F.col("row_id") % 2 == r).drop("row_id") for r in (0, 1)],
        lambda sdf, d, ckpt: stream_bottomk_update(
            sdf, f"{d}/state", ("grp",), "doc_id", k=_BK_K, checkpoint_dir=ckpt
        ),
        passes=2,
    )
    state = spark.read.parquet(current_version_path(f"{d}/state"))
    return state.select("grp", "doc_id", "h").orderBy("grp", "h", "doc_id")


# ---------------------------------------------------------------------------
# stream_curation_replay
# ---------------------------------------------------------------------------


def _stream_curation_oracle() -> str:
    # the batch funnel's oracle verbatim: the streaming composition is
    # required to reach the identical final state (global min-id
    # canonicality via the idempotent registry min-merge)
    from whisper_pandas_spark.curation_fixture import _curation_oracle

    return _curation_oracle()


@register("stream_curation_replay", oracle=_stream_curation_oracle())
def stream_curation_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9+/Y163: the STREAMING curation funnel (streaming/
    curation.py) — pipeline_curation_end_to_end's gates composed as a
    foreachBatch maintainer: stateless PII + pinned-log2 entropy gates
    per micro-batch, an idempotent per-doc flags upsert, and a
    (clean_md5 -> min doc_id) dedup registry whose min-merge is
    idempotent/commutative/associative — so the whole stream is
    REPROCESSED with a fresh checkpoint into provably unchanged state
    (the stream_bottomk/phash replay doctrine), and canonicality
    read-off equals the batch funnel's global min-id semantics. The
    oracle is the batch entry's oracle VERBATIM: one SQL text checks
    both faces. Text never enters state; the registry shuffles
    hashes+ids only."""
    from whisper_pandas_spark.curation_fixture import (
        _CUR_MIN_H,
        _CUR_MIN_TOKENS,
        _CUR_N_TARGET,
        _CUR_SEED,
        _cur_fixture_sql,
    )
    from whisper_pandas_spark.streaming.curation import (
        curation_read_off,
        stream_curation,
    )

    docs = table(spark, sf_dir, "documents")
    buddy = docs.select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    fix = stage_materialize(
        docs.join(buddy, F.col("bid") == F.col("doc_id") - 1, "left")
        .select(
            "doc_id", "lang", F.expr(_cur_fixture_sql("STRING")).alias("text")
        )
    )
    n = fix.count()
    # 4 micro-batches by doc_id range (any split works — the registry
    # min-merge is order-independent; ranges keep batches balanced)
    step = max(1, (n + 3) // 4)
    frames = [
        fix.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
            if i < 3
            else (F.col("doc_id") >= i * step)
        )
        for i in range(4)
    ]
    # the second pass reprocesses the whole stream under a fresh
    # checkpoint: every doc re-derives the same flags row (anti-join
    # upsert) and every registry key min-merges with itself — state
    # provably unchanged (the hash gate catches any drift)
    d = replay(
        spark,
        frames,
        lambda sdf, d, ckpt: stream_curation(
            sdf,
            f"{d}/state",
            min_entropy=_CUR_MIN_H,
            min_tokens=_CUR_MIN_TOKENS,
            checkpoint_dir=ckpt,
        ),
        passes=2,
    )
    return curation_read_off(
        spark, f"{d}/state", n_target=_CUR_N_TARGET, seed=_CUR_SEED
    ).orderBy("doc_id")
