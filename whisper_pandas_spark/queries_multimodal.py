"""Registry entries: multimodal binary-column pipeline (X5) — metadata,
decoded image / audio / video features, archive inventories, perceptual
hashes and near-dup, and the multimodal curation funnel.

Planted payloads (PGM, RIFF-PCM WAV, TIFF, GIF) make the decoded-pixel
and sample math SQL-replayable, so even the Python decode paths are
value-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, scratch_dir, table
from whisper_pandas_spark.operators.multimodal import (
    FRAME_BYTES,
    binary_metadata,
    extract_features,
    image_features,
    sample_frames,
    with_payload,
)
from whisper_pandas_spark.stage import stage_materialize


@register(
    "mm_binary_metadata",
    oracle=f"""
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS payload_md5,
  'application/octet-stream' AS mime,
  CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT) AS n_frames
FROM documents ORDER BY doc_id
""",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: typed metadata over an opaque BinaryType payload — pure
    codegen expressions (octet_length, md5, magic-byte mime sniff)."""
    docs = with_payload(table(spark, sf_dir, "documents"))
    return binary_metadata(docs, "doc_id").orderBy("doc_id")


@register(
    "mm_features",
    oracle="""
WITH codes AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> ord(substr(text, i, 1)) % 16) AS bins
  FROM documents
)
SELECT doc_id, bin,
  round(len(list_filter(bins, x -> x = bin)) * 1.0 / greatest(n, 1), 6)
    AS feature
FROM codes CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) b
ORDER BY doc_id, bin
""",
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: mapInPandas fake decode → 16-bin byte histogram features,
    exploded to (doc_id, bin, feature) scalar rows (array-typed result
    columns don't hash portably across engines). The decode itself is the
    stub (see operators/multimodal.py); the Arrow plumbing and schema
    contract are the real thing. NB: oracle uses ord() over single-byte
    slices — exact for this ASCII corpus; the Spark side operates on raw
    bytes and is the ground truth for non-ASCII."""
    docs = with_payload(table(spark, sf_dir, "documents"))
    feats = extract_features(docs, "doc_id")
    return feats.select(
        "doc_id", F.posexplode("features").alias("bin", "feature")
    ).withColumn("feature", F.round("feature", 6)).orderBy("doc_id", "bin")


@register(
    "mm_image_features",
    oracle="""
WITH px AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         ord(substr(rpad(text, 256, text), CAST(t.i + 1 AS INT), 1)) % 128 AS b
  FROM documents CROSS JOIN range(0, 256) AS t(i)
), g AS (
  SELECT doc_id, i, b,
         CASE WHEN i % 16 < 15 THEN abs(lead(b, 1) OVER w - b) END AS gx,
         CASE WHEN i < 240 THEN abs(lead(b, 16) OVER w - b) END AS gy
  FROM px
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), s AS (
  SELECT doc_id,
         CAST(sum(b) AS BIGINT) AS s1,
         CAST(sum(b*b) AS BIGINT) AS s2,
         CAST(sum(b*b*b) AS BIGINT) AS s3,
         CAST(sum(gx) AS BIGINT) AS gxs,
         CAST(sum(gy) AS BIGINT) AS gys
  FROM g GROUP BY doc_id
), m AS (
  SELECT doc_id, s1, s2, s3, gxs, gys,
         s1 / 256.0 AS mean,
         sqrt(greatest(s2 / 256.0 - (s1 / 256.0) * (s1 / 256.0), 0)) AS std
  FROM s
)
SELECT doc_id,
       CAST(16 AS INT) AS height, CAST(16 AS INT) AS width,
       CAST(1 AS INT) AS channels,
       round(mean + 1e-9, 6) AS mean_px,
       round(std + 1e-9, 6) AS std_px,
       round(CASE WHEN std > 0 THEN
               ((s3 - 3.0 * mean * s2 + 3.0 * mean * mean * s1
                 - 256 * mean * mean * mean) / 256.0)
               / (std * std * std) END + 1e-9, 6) AS skew_px,
       round(gxs / 240.0 + 1e-9, 6) AS grad_x_mean,
       round(gys / 240.0 + 1e-9, 6) AS grad_y_mean
FROM m ORDER BY doc_id
""",
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: the REAL image feature head (operators/multimodal.py:
    image_features) driven end-to-end through the pure-stdlib codec —
    each document's text is cycled to 256 CHARACTERS, each mapped to the
    single-byte alphabet codepoint % 128 (so the utf-8 plane is exactly
    256 bytes even for non-ASCII text — r6 advisory), and wrapped as a
    binary P5 PGM (header + raw pixel plane), so the Arrow task performs
    a genuine netpbm decode and the featurizer computes moments +
    gradient energy from DECODED pixels; DuckDB replays the exact
    integer power sums by enumerating the same mod-128 codepoints with
    rpad/ord. The orientation histogram (libm-boundary-sensitive) is
    pytest-covered instead."""
    docs = table(spark, sf_dir, "documents")
    pgm = docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("P5\n16 16\n255\n"),
                F.expr(
                    "array_join(transform(split(rpad(text, 256, text), ''),"
                    " c -> char(ascii(c) % 128)), '')"
                ),
            ),
            "utf-8",
        ).alias("payload"),
    )
    feats = image_features(pgm, "doc_id")
    eps = F.lit(1e-9)
    return feats.select(
        "doc_id",
        "height",
        "width",
        "channels",
        F.round(F.col("mean_px") + eps, 6).alias("mean_px"),
        F.round(F.col("std_px") + eps, 6).alias("std_px"),
        F.round(F.col("skew_px") + eps, 6).alias("skew_px"),
        F.round(F.col("grad_x_mean") + eps, 6).alias("grad_x_mean"),
        F.round(F.col("grad_y_mean") + eps, 6).alias("grad_y_mean"),
    ).orderBy("doc_id")


@register(
    "mm_frame_stats",
    oracle=f"""
SELECT doc_id,
  CAST(ceil(octet_length(encode(text)) / ({FRAME_BYTES} * 4.0)) AS BIGINT)
    AS frames_sampled
FROM documents ORDER BY doc_id
""",
)
def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: frame-sample every 4th fixed-size frame (row explosion inside
    one Arrow pass, no shuffle) then count per doc — the video-pipeline
    shape: decode→sample narrow, aggregate after."""
    docs = with_payload(table(spark, sf_dir, "documents"))
    frames = sample_frames(docs, "doc_id", every=4)
    return (
        frames.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("frames_sampled"))
        .orderBy("doc_id")
    )


@register(
    "mm_audio_stats",
    oracle="""
WITH s AS (
  SELECT doc_id,
         ((doc_id * 31 + t.i * 7) % 65536) - 32768 AS v
  FROM documents CROSS JOIN range(0, 256) AS t(i)
)
SELECT doc_id,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels,
       CAST(256 AS BIGINT) AS n_samples,
       256.0 / 8000.0 AS duration_s,
       round(sqrt(CAST(sum(v * v) AS BIGINT) / 256.0) + 1e-9, 6) AS rms
FROM s GROUP BY doc_id ORDER BY doc_id
""",
)
def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: the audio decode leaf driven end-to-end with a full value
    oracle (the audio twin of `mm_image_features`): deterministic int16
    samples s_i = ((doc_id*31 + i*7) mod 65536) - 32768 are wrapped as
    real RIFF-PCM WAV containers inside the Arrow pass, decoded by the
    pure-stdlib codec (functions/codecs.py:decode_wav), and summarized
    by decode_audio_stats. Sample squares are exact integers whose sum
    fits a double, so rms = sqrt(sum/n) is bit-deterministic and DuckDB
    replays it by enumerating the same formula. Spectral features
    (FFT-based, not SQL-expressible) stay pytest-pinned in
    `audio_features` tests."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.functions.codecs import encode_wav
    from whisper_pandas_spark.operators.multimodal import decode_audio_stats

    docs = table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        idx = np.arange(256, dtype=np.int64)
        for pdf in batches:
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                s = (((int(d) * 31 + idx * 7) % 65536) - 32768).astype(
                    np.int16
                )
                ids.append(d)
                blobs.append(encode_wav(s, 8000))
            yield pd.DataFrame({"doc_id": ids, "payload": blobs})

    src = docs.mapInPandas(gen, "doc_id long, payload binary")
    st = decode_audio_stats(src, "doc_id")
    return st.select(
        "doc_id",
        "sample_rate",
        "channels",
        "n_samples",
        "duration_s",
        F.round(F.col("rms") + F.lit(1e-9), 6).alias("rms"),
    ).orderBy("doc_id")


@register(
    "mm_archive_inventory",
    oracle="""
SELECT doc_id || '.txt' AS member,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents WHERE doc_id % 50 < 3 ORDER BY member
""",
)
def mm_archive_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5+: archive-shard round trip — pack a deterministic documents
    slice into tar shards (one per doc_id%3), read them back with
    `read_archive_members`, emit (member, n_bytes, payload_md5). The
    oracle recomputes all three straight from the documents table, so
    the tar write + binaryFile scan + member extraction chain is
    value-checked end to end (the whisper fixture-from-parquet recipe
    applied to the WebDataset source)."""
    import io
    import tarfile
    from pathlib import Path

    from whisper_pandas_spark.sources.archives import read_archive_members

    docs = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 50 < 3)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )  # small deterministic slice (~6% of docs) — fixture build only
    out = Path(scratch_dir("wps_tar_"))
    bufs = {s: io.BytesIO() for s in range(3)}
    tars = {s: tarfile.open(fileobj=b, mode="w") for s, b in bufs.items()}
    for row in docs:
        data = row["text"].encode("utf-8")
        info = tarfile.TarInfo(f"{row['doc_id']}.txt")
        info.size = len(data)
        tars[row["doc_id"] % 3].addfile(info, io.BytesIO(data))
    for s, tf in tars.items():
        tf.close()
        (out / f"shard-{s}.tar").write_bytes(bufs[s].getvalue())
    inv = read_archive_members(spark, str(out))
    return inv.select(
        "member",
        "n_bytes",
        F.md5("payload").alias("payload_md5"),
    ).orderBy("member")


# -- TIFF decode path, driver-verified ----------------------------------------
#
# mm_image_features proves the feature head over the PGM container; this
# entry proves the round-7 TIFF decoder end-to-end in the driver: the same
# mod-128 byte plane is wrapped as an UNCOMPRESSED little-endian TIFF
# (constant 110-byte header + IFD computed once — strip offset is fixed
# for the 16x16 gray geometry, so the wrap is one pure-JVM concat, no
# Python in the payload build), decoded by functions/codecs.py:decode_tiff
# (real IFD parse, tag validation, strip read), and featurized by the
# same integer-power-sum head. The oracle enumerates the identical pixels.

# II, 8 IFD entries: 16x16, 8-bit gray (BlackIsZero), uncompressed,
# one strip at offset 110 of 256 bytes (regenerate with the snippet in
# the round-7 commit if the geometry ever changes).
_TIFF16_HEADER_HEX = (
    "49492A00080000000800"
    "00010300010000001000000001010300010000001000000002010300010000000800"
    "00000301030001000000010000000601030001000000010000001101040001000000"
    "6E00000016010300010000001000000017010400010000000001000000000000"
)


@register(
    "mm_tiff_image_features",
    oracle="""
WITH px AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         ord(substr(rpad(text, 256, text), CAST(t.i + 1 AS INT), 1)) % 128 AS b
  FROM documents CROSS JOIN range(0, 256) AS t(i)
), g AS (
  SELECT doc_id, i, b,
         CASE WHEN i % 16 < 15 THEN abs(lead(b, 1) OVER w - b) END AS gx,
         CASE WHEN i < 240 THEN abs(lead(b, 16) OVER w - b) END AS gy
  FROM px
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), s AS (
  SELECT doc_id,
         CAST(sum(b) AS BIGINT) AS s1,
         CAST(sum(b*b) AS BIGINT) AS s2,
         CAST(sum(gx) AS BIGINT) AS gxs,
         CAST(sum(gy) AS BIGINT) AS gys
  FROM g GROUP BY doc_id
)
SELECT doc_id,
       CAST(16 AS INT) AS height, CAST(16 AS INT) AS width,
       CAST(1 AS INT) AS channels,
       round(s1 / 256.0 + 1e-9, 6) AS mean_px,
       round(sqrt(greatest(s2 / 256.0 - (s1 / 256.0) * (s1 / 256.0), 0))
             + 1e-9, 6) AS std_px,
       round(gxs / 240.0 + 1e-9, 6) AS grad_x_mean,
       round(gys / 240.0 + 1e-9, 6) AS grad_y_mean
FROM s ORDER BY doc_id
""",
)
def mm_tiff_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y21+/X5: the round-7 TIFF decoder driven end-to-end — document
    text cycled to a 256-byte mod-128 plane, wrapped as an uncompressed
    little-endian TIFF by concatenating the constant header (pure JVM),
    decoded by the real IFD/strip parser, featurized by the integer
    power-sum head; DuckDB replays the pixel enumeration. Compressed
    variants (LZW early-width-change, PackBits, predictor) are
    bit-parity-tested in tests/test_codecs.py."""

    docs = table(spark, sf_dir, "documents")
    tiff = docs.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit(_TIFF16_HEADER_HEX)),
            F.encode(
                F.expr(
                    "array_join(transform(split(rpad(text, 256, text), ''),"
                    " c -> char(ascii(c) % 128)), '')"
                ),
                "utf-8",
            ),
        ).alias("payload"),
    )
    feats = image_features(tiff, "doc_id")
    eps = F.lit(1e-9)
    return feats.select(
        "doc_id",
        "height",
        "width",
        "channels",
        F.round(F.col("mean_px") + eps, 6).alias("mean_px"),
        F.round(F.col("std_px") + eps, 6).alias("std_px"),
        F.round(F.col("grad_x_mean") + eps, 6).alias("grad_x_mean"),
        F.round(F.col("grad_y_mean") + eps, 6).alias("grad_y_mean"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# mm_phash_neardup
# ---------------------------------------------------------------------------
# Fixture geometry: each even doc_id plants TWO real P5 PGM containers —
# the base image (text cycled to 288 chars, codepoint % 128 per pixel,
# 18 wide x 16 tall so the dHash 9x8 grid divides evenly) and a
# perturbed twin under img_id + 1_000_000 whose pixels at i % 97 == 0
# shift by (+3 mod 128). The Spark side DECODES the containers
# (functions/codecs.py netpbm path) and hashes pixels; DuckDB replays
# the integer pixel/grid/bit math from the text directly and does the
# same 8-band pigeonhole join — banded-result == brute-force is
# guaranteed for hamming <= 7 (8 bands of 8 bits), so both engines
# enumerate identical pairs.

_PHASH_ORACLE = """
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
), bands AS (
  SELECT img_id, bs, t.b AS band,
         substr(bs, CAST(t.b * 8 + 1 AS INT), 8) AS bkey
  FROM hstr CROSS JOIN range(0, 8) AS t(b)
), cand AS (
  SELECT DISTINCT l.img_id AS doc_i, r2.img_id AS doc_j, l.bs AS bi, r2.bs AS bj
  FROM bands l JOIN bands r2 ON l.band = r2.band AND l.bkey = r2.bkey
  WHERE l.img_id < r2.img_id
), ham AS (
  SELECT doc_i, doc_j,
    CAST(len(list_filter(range(1, 65),
         k -> substr(bi, CAST(k AS INT), 1) <> substr(bj, CAST(k AS INT), 1)))
      AS INT) AS hamming
  FROM cand
)
SELECT doc_i, doc_j, hamming FROM ham WHERE hamming <= 6
ORDER BY doc_i, doc_j
"""


@register("mm_phash_neardup", oracle=_PHASH_ORACLE)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X2 bridge: perceptual-hash image near-dup (VERDICT r11 #4).
    Plants real PGM containers (base + perturbed twin per even doc),
    dHashes DECODED luma in one Arrow pass
    (operators/multimodal.py:image_dhash), then 8x8-bit pigeonhole
    banding + bit_count(xor) verification — the image twin of
    dedup_simhash_pairs. The oracle replays pixel/grid/bit integer math
    and the banding in SQL over bit STRINGS (independent idiom: no
    shift/xor on the SQL side)."""
    from whisper_pandas_spark.operators.multimodal import phash_neardup_pairs

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
    base = docs.select(
        F.col("doc_id").alias("img_id"),
        F.encode(F.concat(header, base_px), "utf-8").alias("payload"),
    )
    pert = docs.select(
        (F.col("doc_id") + 1000000).alias("img_id"),
        F.encode(F.concat(header, pert_px), "utf-8").alias("payload"),
    )
    pairs = phash_neardup_pairs(
        base.unionByName(pert), "img_id", max_hamming=6
    )
    out = pairs.select(
        "doc_i", "doc_j", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("doc_i", "doc_j")
    out = stage_materialize(out)
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()
    return out.orderBy("doc_i", "doc_j")


# ---------------------------------------------------------------------------
# mm_audio_neardup — acoustic-fingerprint near-dup over real WAV decode
# ---------------------------------------------------------------------------
# Fixture: each even doc plants TWO real RIFF-PCM WAV clips of 1056
# int16 samples — base v(i) = ((d*7919 + i^2 + 1)*(d + i*31 + 7) mod
# 65536) - 32768 with d = clip's doc_id mod 1e5 (the multiplicative
# doc-sample interaction makes frame energies doc-specific — a pure
# offset formula collapses every doc to the same fingerprint; the mod
# keeps the int64 product in headroom at any doc_id scale) and a twin
# under clip_id + 1_000_000 whose
# samples at i % 509 == 0 (frames 0, 15, 31 -> fingerprint bits
# {0, 14, 15, 30, 31}) add 20000 before the mod. Band 2 (bits 16..23)
# is untouched by construction, so every planted pair surfaces through
# the band join and its hamming is <= 5. DuckDB replays sample/energy/
# bit integer math and the banding over bit strings.

_AFP_ORACLE = """
WITH clips AS (
  SELECT doc_id AS clip_id, 0 AS pert FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, 1 FROM documents WHERE doc_id % 2 = 0
), s AS (
  SELECT clip_id, CAST(t.i AS BIGINT) AS i,
     ((d * 7919 + t.i * t.i + 1) * (d + t.i * 31 + 7)
      + CASE WHEN pert = 1 AND t.i % 509 = 0 THEN 20000 ELSE 0 END)
     % 65536 - 32768 AS v
  FROM (SELECT clip_id, pert,
          (CASE WHEN pert = 1 THEN clip_id - 1000000 ELSE clip_id END)
            % 100000 AS d
        FROM clips) CROSS JOIN range(0, 1056) AS t(i)
), e AS (
  SELECT clip_id, i // 32 AS f, sum(v * v) AS en FROM s GROUP BY 1, 2
), bits AS (
  SELECT a.clip_id, a.f AS k,
         CASE WHEN a.en < b.en THEN '1' ELSE '0' END AS bit
  FROM e a JOIN e b ON a.clip_id = b.clip_id AND b.f = a.f + 1
  WHERE a.f < 32
), fp AS (
  SELECT clip_id, string_agg(bit, '' ORDER BY k) AS bs FROM bits
  GROUP BY clip_id
), bands AS (
  SELECT clip_id, bs, t.b AS band,
         substr(bs, CAST(t.b * 8 + 1 AS INT), 8) AS bkey
  FROM fp CROSS JOIN range(0, 4) AS t(b)
), cand AS (
  SELECT DISTINCT l.clip_id AS doc_i, r2.clip_id AS doc_j,
                  l.bs AS bi, r2.bs AS bj
  FROM bands l JOIN bands r2 ON l.band = r2.band AND l.bkey = r2.bkey
  WHERE l.clip_id < r2.clip_id
), ham AS (
  SELECT doc_i, doc_j,
    CAST(len(list_filter(range(1, 33),
         k -> substr(bi, CAST(k AS INT), 1) <> substr(bj, CAST(k AS INT), 1)))
      AS INT) AS hamming
  FROM cand
)
SELECT doc_i, doc_j, hamming FROM ham WHERE hamming <= 5
ORDER BY doc_i, doc_j
"""


@register("mm_audio_neardup", oracle=_AFP_ORACLE)
def mm_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X2 bridge: acoustic-fingerprint near-dup over REAL WAV decode
    (operators/multimodal.py:audio_fingerprint / audio_neardup_pairs) —
    the audio twin of mm_phash_neardup: 32-bit frame-energy-difference
    fingerprint (Haitsma-Kalker sign bits, one band), 4x8-bit pigeonhole
    banding, bit_count(xor) verification. Clips are genuine RIFF-PCM
    containers built in the Arrow pass and decoded by the pure-stdlib
    codec; DuckDB replays the exact integer energy sums."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.functions.codecs import encode_wav
    from whisper_pandas_spark.operators.multimodal import audio_neardup_pairs

    docs = table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 2 == 0
    )

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        idx = np.arange(1056, dtype=np.int64)
        pert_add = np.where(idx % 509 == 0, 20000, 0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, blobs = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                # clamp the formula input so the product stays far below
                # 2^63 at ANY doc_id scale (identity at oracle scales;
                # numpy would wrap silently where SQL BIGINTs error)
                dk = d % 100000
                prod = (dk * 7919 + idx * idx + 1) * (dk + idx * 31 + 7)
                base = ((prod % 65536) - 32768).astype(np.int16)
                twin = (((prod + pert_add) % 65536) - 32768).astype(np.int16)
                ids.append(d)
                blobs.append(encode_wav(base, 8000))
                ids.append(d + 1000000)
                blobs.append(encode_wav(twin, 8000))
            yield pd.DataFrame({"clip_id": ids, "payload": blobs})

    clips = docs.mapInPandas(gen, "clip_id long, payload binary")
    pairs = audio_neardup_pairs(clips, "clip_id", max_hamming=5)
    out = pairs.select(
        "doc_i", "doc_j", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("doc_i", "doc_j")
    out = stage_materialize(out)
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()
    return out.orderBy("doc_i", "doc_j")


# ---------------------------------------------------------------------------
# mm_video_neardup — clip-level near-dup over real animated-GIF decode
# ---------------------------------------------------------------------------
# Fixture: each even doc plants TWO real 4-frame GIF89a containers
# (16x18 frames, 256-gray global palette, genuine LZW streams): frame f
# reads the doc's 288 mod-128 codepoints ROTATED by 53*f (frames differ,
# SQL can enumerate them), and the twin under clip_id + 1_000_000
# perturbs ONLY frame 2 ((+3 mod 128) at i % 97 == 0) — so twins differ
# in one frame and the clip distance stays <= 6. The decoder expands
# palette indices to RGB, the hash sums channels (luma = 3*px), so the
# oracle's grid is (3*sum(px)) // 4. Banding is per aligned frame
# index; a total <= 8 over 4 frames puts some frame at hamming <= 2,
# inside that frame's 8-band pigeonhole guarantee -> no false
# negatives at the default threshold.

_VIDEO_ORACLE = """
WITH clips AS (
  SELECT doc_id AS clip_id, 0 AS pert, text FROM documents
  WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, 1, text FROM documents WHERE doc_id % 2 = 0
), px AS (
  SELECT clip_id, f.f AS f, CAST(t.i AS BIGINT) AS i,
         (ord(substr(rpad(text, 288, text),
                     CAST((t.i + 53 * f.f) % 288 + 1 AS INT), 1)) % 128
          + CASE WHEN pert = 1 AND f.f = 2 AND t.i % 97 = 0
                 THEN 3 ELSE 0 END) % 128 AS b
  FROM clips CROSS JOIN range(0, 4) AS f(f) CROSS JOIN range(0, 288) AS t(i)
), grid AS (
  SELECT clip_id, f, (i // 18) // 2 AS r, (i % 18) // 2 AS c,
         CAST((3 * sum(b)) // 4 AS BIGINT) AS g
  FROM px GROUP BY 1, 2, 3, 4
), bits AS (
  SELECT a.clip_id, a.f, a.r * 8 + a.c AS k,
         CASE WHEN a.g < b.g THEN '1' ELSE '0' END AS bit
  FROM grid a JOIN grid b ON a.clip_id = b.clip_id AND a.f = b.f
                         AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
), fh AS (
  SELECT clip_id, f, string_agg(bit, '' ORDER BY k) AS bs
  FROM bits GROUP BY clip_id, f
), bands AS (
  SELECT clip_id, f, t.b AS band,
         substr(bs, CAST(t.b * 8 + 1 AS INT), 8) AS bkey
  FROM fh CROSS JOIN range(0, 8) AS t(b)
), cand AS (
  SELECT DISTINCT l.clip_id AS doc_i, r2.clip_id AS doc_j
  FROM bands l JOIN bands r2
    ON l.f = r2.f AND l.band = r2.band AND l.bkey = r2.bkey
  WHERE l.clip_id < r2.clip_id
), dist AS (
  SELECT c.doc_i, c.doc_j,
    CAST(sum(len(list_filter(range(1, 65),
         k -> substr(hi.bs, CAST(k AS INT), 1)
              <> substr(hj.bs, CAST(k AS INT), 1)))) AS INT) AS total_hamming
  FROM cand c
  JOIN fh hi ON hi.clip_id = c.doc_i
  JOIN fh hj ON hj.clip_id = c.doc_j AND hj.f = hi.f
  GROUP BY c.doc_i, c.doc_j
)
SELECT doc_i, doc_j, total_hamming FROM dist WHERE total_hamming <= 8
ORDER BY doc_i, doc_j
"""


@register("mm_video_neardup", oracle=_VIDEO_ORACLE)
def mm_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X2 bridge: clip-level video near-dup over REAL animated-GIF
    decode (operators/multimodal.py:video_frame_dhash /
    video_neardup_pairs) — per-frame dHash (genuine LZW frame streams
    through functions/codecs.py:decode_gif_frames), frame-aligned
    8x8-bit banding, clip distance = sum of aligned per-frame hamming.
    The oracle enumerates the palette-index pixels, replays the
    channel-sum grid integer math, and the same frame-aligned banding
    over bit strings."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from whisper_pandas_spark.functions.codecs import encode_gif
    from whisper_pandas_spark.operators.multimodal import video_neardup_pairs

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") % 2 == 0
    )
    palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        idx = np.arange(288, dtype=np.int64)
        pert = np.where(idx % 97 == 0, 3, 0)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, blobs = [], []
            for d, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(d)
                s = (text * (288 // max(len(text), 1) + 1))[:288]
                codes = np.array([ord(ch) % 128 for ch in s], dtype=np.int64)
                base_frames = [
                    codes[(idx + 53 * f) % 288].reshape(16, 18).astype(np.uint8)
                    for f in range(4)
                ]
                twin_frames = [fr.copy() for fr in base_frames]
                twin_frames[2] = (
                    (codes[(idx + 53 * 2) % 288] + pert) % 128
                ).reshape(16, 18).astype(np.uint8)
                ids.append(d)
                blobs.append(encode_gif(base_frames, palette))
                ids.append(d + 1000000)
                blobs.append(encode_gif(twin_frames, palette))
            yield pd.DataFrame({"clip_id": ids, "payload": blobs})

    clips = docs.mapInPandas(gen, "clip_id long, payload binary")
    pairs = video_neardup_pairs(clips, "clip_id", max_total_hamming=8)
    out = pairs.select("doc_i", "doc_j", "total_hamming").orderBy(
        "doc_i", "doc_j"
    )
    out = stage_materialize(out)
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()
    return out.orderBy("doc_i", "doc_j")


# ---------------------------------------------------------------------------
# mm_phash_canonical — the deduplicated image set itself
# ---------------------------------------------------------------------------
# Same fixture as mm_phash_neardup; pairs chain into components
# (min-label propagation) and each cluster keeps its min-id member —
# the operator an image-dedup pipeline actually calls. The oracle runs
# an INDEPENDENT algorithm over the same pair set: DuckDB recursive
# transitive closure.

_PHASH_PAIRS_CTE = _PHASH_ORACLE.rsplit("SELECT doc_i", 1)[0].strip().rstrip(
    ")"
) + """),
ph_pairs AS (
  SELECT doc_i, doc_j FROM ham WHERE hamming <= 6
)"""

_PHASH_CANON_ORACLE = f"""
WITH RECURSIVE {_PHASH_PAIRS_CTE.lstrip().removeprefix("WITH ")},
edges AS (
  SELECT doc_i AS a, doc_j AS b FROM ph_pairs
  UNION
  SELECT doc_j AS a, doc_i AS b FROM ph_pairs
), reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(comp) AS comp FROM reach GROUP BY node
), allimgs AS (
  SELECT doc_id AS img_id FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 2 = 0
)
SELECT img_id FROM allimgs
WHERE img_id NOT IN (SELECT node FROM comp WHERE node <> comp)
ORDER BY img_id
"""


@register("mm_phash_canonical", oracle=_PHASH_CANON_ORACLE)
def mm_phash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated IMAGE corpus: dHash near-dup pairs chained into
    components (operators/components.py min-label propagation), each
    cluster keeping its min-id member, untouched images passing through
    — one left-anti join against the tiny drop list. The oracle is an
    independent recursive-transitive-closure replay over the same pair
    set (the sim/text dedup families' pattern, now for images)."""
    from whisper_pandas_spark.operators.components import canonical_filter
    from whisper_pandas_spark.operators.multimodal import phash_neardup_pairs

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
    imgs = (
        docs.select(
            F.col("doc_id").alias("img_id"),
            F.encode(F.concat(header, base_px), "utf-8").alias("payload"),
        )
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("img_id"),
            F.encode(F.concat(header, pert_px), "utf-8").alias("payload"),
        )
    )
    pairs = phash_neardup_pairs(imgs, "img_id", max_hamming=6)
    pairs_ck = stage_materialize(pairs)
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()
    kept = canonical_filter(
        imgs.select("img_id"), pairs_ck, id_col="img_id"
    )
    return kept.orderBy("img_id")


# ---------------------------------------------------------------------------
# pipeline_multimodal_curation
# ---------------------------------------------------------------------------
# The multimodal training-set curation step: image+caption PAIRS where
# a pair survives iff BOTH faces survive their modality's dedup —
# the image through dHash near-dup canonicalization
# (mm_phash_canonical's operator chain), the caption through exact
# min-id text dedup. Fixture: each even doc contributes pair A
# (pair_id = doc_id, base PGM image, caption = doc text) and pair B
# (pair_id = doc_id + 1_000_000, the PERTURBED near-dup image;
# caption = the SAME text when doc_id % 3 == 0, else text || ' v2') —
# so B's image face always loses to A, and B's caption face loses only
# in the % 3 == 0 stratum; the output funnel separates the two faces.

_MM_DUP_CAP_MOD = 3


def _mm_curation_oracle() -> str:

    return f"""
WITH RECURSIVE {_PHASH_PAIRS_CTE.lstrip().removeprefix("WITH ")},
edges AS (
  SELECT doc_i AS a, doc_j AS b FROM ph_pairs
  UNION
  SELECT doc_j AS a, doc_i AS b FROM ph_pairs
), reach AS (
  SELECT a AS node, a AS comp FROM edges
  UNION
  SELECT e.b AS node, r.comp FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node, min(comp) AS comp FROM reach GROUP BY node
), pairs0 AS (
  SELECT doc_id AS pair_id, doc_id AS src_doc, 0 AS pert
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 1000000, doc_id, 1 FROM documents WHERE doc_id % 2 = 0
), caps AS (
  SELECT p.pair_id,
         CASE WHEN p.pert = 1 AND p.src_doc % {_MM_DUP_CAP_MOD} <> 0
              THEN d.text || ' v2' ELSE d.text END AS caption
  FROM pairs0 p JOIN documents d ON d.doc_id = p.src_doc
), img_drop AS (
  SELECT node AS pair_id FROM comp WHERE node <> comp
), cap_win AS (
  SELECT pair_id FROM (
    SELECT pair_id,
           row_number() OVER (PARTITION BY md5(caption)
                              ORDER BY pair_id) AS rn
    FROM caps
  ) WHERE rn = 1
)
SELECT p.pair_id,
  p.pair_id NOT IN (SELECT pair_id FROM img_drop) AS img_kept,
  p.pair_id IN (SELECT pair_id FROM cap_win) AS cap_kept,
  (p.pair_id NOT IN (SELECT pair_id FROM img_drop)
   AND p.pair_id IN (SELECT pair_id FROM cap_win)) AS kept
FROM pairs0 p ORDER BY pair_id
"""


@register("pipeline_multimodal_curation", oracle=_mm_curation_oracle())
def pipeline_multimodal_curation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X5/X1 composition: multimodal pair curation — keep an
    image+caption pair iff the image survives dHash near-dup
    canonicalization (phash_neardup_pairs -> connected components ->
    min-id canonical, the mm_phash_canonical chain) AND the caption
    survives exact min-id text dedup. Pure composition of two
    independently-green operators; the funnel (img_kept / cap_kept /
    kept per pair) is the checked value. Shuffle budget: the banded
    image pair join + pointer-doubling closure (both hash-bounded), one
    md5-keyed caption window, two id-only joins — captions and payloads
    never shuffle beyond their own keyed exchange."""
    from whisper_pandas_spark.operators.components import canonical_filter
    from whisper_pandas_spark.operators.multimodal import phash_neardup_pairs

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
    imgs = (
        docs.select(
            F.col("doc_id").alias("img_id"),
            F.encode(F.concat(header, base_px), "utf-8").alias("payload"),
        )
    ).unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("img_id"),
            F.encode(F.concat(header, pert_px), "utf-8").alias("payload"),
        )
    )
    pairs = phash_neardup_pairs(imgs, "img_id", max_hamming=6)
    pairs_ck = stage_materialize(pairs)
    for c in getattr(pairs, "_wps_cached", []):
        c.unpersist()
    kept_imgs = canonical_filter(
        imgs.select("img_id"), pairs_ck, id_col="img_id"
    ).withColumnRenamed("img_id", "pair_id")

    pa = docs.select(
        F.col("doc_id").alias("pair_id"), F.col("text").alias("caption")
    )
    pb = docs.select(
        (F.col("doc_id") + 1000000).alias("pair_id"),
        F.when(F.col("doc_id") % _MM_DUP_CAP_MOD == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v2")))
        .alias("caption"),
    )
    caps = pa.unionByName(pb)
    w = Window.partitionBy(F.md5(F.encode("caption", "utf-8"))).orderBy(
        "pair_id"
    )
    cap_win = (
        caps.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("pair_id")
    )
    all_pairs = caps.select("pair_id")
    out = (
        all_pairs.join(
            kept_imgs.withColumn("ik", F.lit(True)), "pair_id", "left"
        )
        .join(cap_win.withColumn("ck", F.lit(True)), "pair_id", "left")
        .select(
            "pair_id",
            F.coalesce(F.col("ik"), F.lit(False)).alias("img_kept"),
            F.coalesce(F.col("ck"), F.lit(False)).alias("cap_kept"),
            (
                F.coalesce(F.col("ik"), F.lit(False))
                & F.coalesce(F.col("ck"), F.lit(False))
            ).alias("kept"),
        )
    )
    return out.orderBy("pair_id")
