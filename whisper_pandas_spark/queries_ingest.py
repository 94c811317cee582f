"""Registry entries: ingest round trips and web-archive access — JSONL,
CSV, ORC and XML round trips, WARC / WET / WAT records, CDX indexes and
ZipNum lookups, selective range fetches, and crawl policies (robots,
sitemaps, politeness).

Each round trip writes a deterministic table through the format and
reads it back, so the DuckDB oracle is the plain query over the source
parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, scratch_dir, scratch_once, table
from whisper_pandas_spark.sources.warc import HTTP_ENVELOPE_CONST as _WARC_HTTP_CONST


# -- JSONL ingest round trip ----------------------------------------------


@register(
    "ingest_jsonl_roundtrip",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id
""",
)
def ingest_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+: documents -> JSONL export -> tolerant explicit-schema read.
    Losslessness IS the assertion: the oracle reads the original parquet,
    so any encode/decode drift (quoting, unicode, nulls) hash-fails."""
    from whisper_pandas_spark.sources.ingest import read_jsonl, write_jsonl

    out = scratch_dir("wps_jsonl_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_jsonl(docs, out)
    back = read_jsonl(
        spark,
        out,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.orderBy("doc_id")


@register(
    "ingest_csv_roundtrip",
    oracle="""
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents ORDER BY doc_id
""",
)
def ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+: documents -> CSV export -> tolerant explicit-schema read.
    Typed columns plus an md5 text fingerprint (computed BEFORE export,
    so the quoting/escape round trip is what the hash gate checks on the
    carried-through value columns; raw multi-line text itself rides the
    JSONL twin, which is the lossless-text path)."""
    from whisper_pandas_spark.sources.ingest import read_csv, write_csv

    out = scratch_dir("wps_csv_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    )
    write_csv(docs, out)
    back = read_csv(
        spark,
        out,
        "doc_id long, lang string, source string, n_chars long, text_md5 string",
    )
    return back.orderBy("doc_id")


# ---------------------------------------------------------------------------
# ingest_orc_roundtrip
# ---------------------------------------------------------------------------


@register(
    "ingest_orc_roundtrip",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id
""",
)
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+: documents -> ORC sink -> explicit-schema vectorized scan
    (sources/ingest.py:read_orc/write_orc) — the Hive-ecosystem
    interchange twin of the parquet path. Losslessness IS the
    assertion: the oracle reads the original parquet, so any ORC
    encode/decode drift (unicode, nulls, type mapping) hash-fails."""
    from whisper_pandas_spark.sources.ingest import read_orc, write_orc

    out = scratch_dir("wps_orc_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_orc(docs, out)
    back = read_orc(
        spark,
        out,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.orderBy("doc_id")


# ---------------------------------------------------------------------------
# ingest_xml_roundtrip
# ---------------------------------------------------------------------------


@register(
    "ingest_xml_roundtrip",
    oracle="""
SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id
""",
)
def ingest_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+: documents -> XML sink -> explicit-schema tolerant scan
    (sources/ingest.py:read_xml/write_xml, Spark 4's built-in XML
    source) — the enterprise-interchange sibling of the
    JSONL/CSV/ORC round trips. Losslessness IS the assertion: the
    oracle reads the original parquet, so any entity-escaping or
    whitespace drift in the XML encode/decode chain hash-fails."""
    from whisper_pandas_spark.sources.ingest import read_xml, write_xml

    out = scratch_dir("wps_xml_")
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_xml(docs, out)
    back = read_xml(
        spark,
        out,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.orderBy("doc_id")


_WARC_ORACLE = f"""
SELECT doc_id,
  'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
  'response' AS warc_type,
  CAST(200 AS INT) AS http_status,
  CAST({_WARC_HTTP_CONST}
       + length(CAST(octet_length(encode(text)) AS VARCHAR))
       + octet_length(encode(text)) AS BIGINT) AS content_length,
  text AS body
FROM documents ORDER BY doc_id
"""


@register("ingest_warc_roundtrip", oracle=_WARC_ORACLE)
def ingest_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+: WARC/1.0 container round trip (sources/warc.py) — the
    CommonCrawl format itself: documents written as one-gzip-member-
    per-record `.warc.gz` shards (the CC layout), then re-opened
    through the binaryFile -> Arrow record parser. One task per WARC
    file both ways — the published parallel unit at crawl scale (a
    crawl is ~100k independent files; in-file offsets aren't seekable
    without a scan). The oracle replays the HTTP-envelope
    Content-Length arithmetic byte-exactly, so the value hash proves
    the container headers, not just the payload text."""
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    docs = table(spark, sf_dir, "documents")
    d = scratch_dir("wps_warc_")
    # file count IS the parallelism for WARC (one task per file, both
    # directions) — size shards to ~4k records like a real crawl sizes
    # to ~1 GiB members (measured: 4 fixed files at the sf1 stress =
    # 14 s; scaled shards = 1.7 s; output is shard-count invariant)
    n_files = max(4, (docs.count() + 3999) // 4000)
    write_warc(
        docs, d, "doc_id", "text", num_files=n_files, compression="gzip"
    )
    rec = read_warc(spark, d).filter(F.col("warc_type") == "response")
    return rec.select(
        F.regexp_replace("record_id", "^doc-", "")
        .cast("bigint")
        .alias("doc_id"),
        "target_uri",
        "warc_type",
        "http_status",
        "content_length",
        F.col("body"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Shared offset arithmetic
# ---------------------------------------------------------------------------

#: write_warc's default WARC-Date (pinned; part of the record bytes).
_WARC_DATE = "2024-01-01T00:00:00Z"

#: Byte length of one written `response` record MINUS the variable
#: parts: record bytes = _REC_CONST + 2*len(str(id)) (record-id + URI)
#: + len(str(content_length)) + content_length. The +4+4 are the
#: header-block terminator and the record separator (both CRLFCRLF).
#: tests/test_round14.py pins this identity against _build_record.
_REC_CONST = (
    len(
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Record-ID: <urn:uuid:doc->\r\n"
        "WARC-Target-URI: http://corpus.example/doc/\r\n"
        f"WARC-Date: {_WARC_DATE}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        "Content-Length: "
    )
    + 4
    + 4
)

# The writer shards by doc_id % n_files with n_files sized to ~4k
# records per shard (the same rule ingest_warc_roundtrip uses); the
# oracle recomputes n_files from the corpus count, then replays each
# record's byte length and its offset (cumsum of earlier records in
# the same shard, id order — exactly the writer's emit order).
_RANGE_CTES = f"""
WITH nf AS (
  SELECT greatest(4, CAST(ceil(count(*) / 4000.0) AS BIGINT)) AS n
  FROM documents
), c AS (
  SELECT doc_id, text, doc_id % (SELECT n FROM nf) AS shard,
         octet_length(encode(text)) AS bo,
         {_WARC_HTTP_CONST}
           + length(CAST(octet_length(encode(text)) AS VARCHAR))
           + octet_length(encode(text)) AS cl
  FROM documents
), r AS (
  SELECT doc_id, text, shard, bo, cl,
         {_REC_CONST} + 2 * length(CAST(doc_id AS VARCHAR))
           + length(CAST(cl AS VARCHAR)) + cl AS rlen
  FROM c
), o AS (
  SELECT doc_id, text, shard, bo, cl,
         CAST(rlen AS BIGINT) AS rlen,
         CAST(coalesce(sum(rlen) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS off
  FROM r
)
"""


def _warc_tree(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents table as an UNCOMPRESSED sharded WARC tree
    (offset arithmetic is SQL-replayable only without gzip framing;
    the gzip path is pinned by pytest instead) and return its directory.
    Built once per process per sf_dir — the WARC-tree entries read the
    same tree; reset_result_caches drops it so bench timings always pay
    the write."""
    from whisper_pandas_spark.sources.warc import write_warc

    def build(d: str) -> None:
        docs = table(spark, sf_dir, "documents")
        n_files = max(4, (docs.count() + 3999) // 4000)
        write_warc(
            docs, d, "doc_id", "text", num_files=n_files, compression="none"
        )

    return scratch_once("wps_cdx_", sf_dir, build)


# ---------------------------------------------------------------------------
# ingest_cdx_index
# ---------------------------------------------------------------------------

_CDX_ORACLE = f"""
{_RANGE_CTES}
SELECT 'example,corpus)/doc/' || CAST(doc_id AS VARCHAR) AS surt_key,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       'text/plain; charset=utf-8' AS mime,
       CAST(200 AS INT) AS http_status,
       md5(text) AS digest,
       printf('warc-%05d.warc', shard) AS warc_file,
       off AS record_offset,
       rlen AS record_length
FROM o ORDER BY surt_key
"""


@register("ingest_cdx_index", oracle=_CDX_ORACLE)
def ingest_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y157: CDX URL index over a WARC tree (sources/cdx.py) — the
    CommonCrawl index sibling. The engine side is the real thing: the
    fetch ranges come from read_warc's byte scan of the container (one
    task per file, narrow map, no shuffle), NOT from re-running the
    writer's arithmetic — the oracle replays that arithmetic
    independently (window cumsum per shard), so a hash match proves
    the scanner's offsets byte-exactly. SURT keys follow the public
    host-reversal convention."""
    from whisper_pandas_spark.sources.cdx import build_cdx
    from whisper_pandas_spark.sources.warc import read_warc

    d = _warc_tree(spark, sf_dir)
    return build_cdx(read_warc(spark, d)).orderBy("surt_key")


# ---------------------------------------------------------------------------
# warc_selective_fetch
# ---------------------------------------------------------------------------

_FETCH_ORACLE = f"""
{_RANGE_CTES}
SELECT doc_id,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       off AS record_offset,
       rlen AS record_length,
       CAST(200 AS INT) AS http_status,
       text AS body
FROM o WHERE CAST(doc_id AS VARCHAR) LIKE '1%' ORDER BY doc_id
"""


@register("warc_selective_fetch", oracle=_FETCH_ORACLE)
def warc_selective_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y158: selective re-crawl — answer a URL-prefix query from
    the CDX index alone, then seek+read ONLY the indexed byte ranges
    (sources/cdx.py fetch_ranges: hits shuffle as index rows, one task
    per touched file, untouched files never open). The pruning claim
    is ASSERTED in-query: the entry raises unless the fetched ranges
    sum to a strict minority of the archive bytes — the
    layout_partition_prune doctrine applied to crawl storage. The
    oracle replays both the selection and the offset arithmetic."""
    import os

    from whisper_pandas_spark.sources.cdx import build_cdx, fetch_ranges
    from whisper_pandas_spark.sources.warc import read_warc

    d = _warc_tree(spark, sf_dir)
    cdx = build_cdx(read_warc(spark, d))
    hits = cdx.filter(F.col("url").like("http://corpus.example/doc/1%"))
    fetched_bytes = hits.agg(F.sum("record_length")).first()[0]
    total_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
    )
    if not fetched_bytes or fetched_bytes * 2 >= total_bytes:
        raise AssertionError(
            f"selective fetch must read a strict minority of the archive "
            f"({fetched_bytes} of {total_bytes} bytes indexed)"
        )
    rec = fetch_ranges(spark, d, hits)
    return rec.select(
        F.regexp_replace("record_id", "^doc-", "")
        .cast("bigint")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        "record_offset",
        "record_length",
        "http_status",
        "body",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# ingest_wat_metadata
# ---------------------------------------------------------------------------

_WAT_ORACLE = f"""
{_RANGE_CTES}
SELECT 'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       '{{"Envelope":{{"WARC-Header-Metadata":{{"WARC-Type":"response"'
       || ',"WARC-Record-ID":"<urn:uuid:doc-' || CAST(doc_id AS VARCHAR)
       || '>","WARC-Target-URI":"http://corpus.example/doc/'
       || CAST(doc_id AS VARCHAR)
       || '","WARC-Date":"{_WARC_DATE}","Content-Length":"'
       || CAST(cl AS VARCHAR)
       || '"}},"Payload-Metadata":{{"Actual-Content-Type":'
       || '"application/http; msgtype=response",'
       || '"HTTP-Response-Metadata":{{"Response-Message":{{"Status":"200"}}'
       || ',"Headers":{{"Content-Type":"text/plain; charset=utf-8"}}'
       || ',"Entity-Length":"' || CAST(bo AS VARCHAR)
       || '"}}}}}},"Container":{{"Filename":"'
       || printf('warc-%05d.warc', shard)
       || '","Offset":"' || CAST(off AS VARCHAR)
       || '","Length":"' || CAST(rlen AS VARCHAR)
       || '"}}}}' AS wat
FROM o ORDER BY url
"""


@register("ingest_wat_metadata", oracle=_WAT_ORACLE)
def ingest_wat_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y159: WAT metadata extraction (sources/cdx.py extract_wat)
    — the CommonCrawl metadata sibling: one fixed-key-order JSON per
    record, built by a single codegen concat over the parsed envelope
    columns (WARC headers, HTTP status/Content-Type, entity length,
    container range). The oracle rebuilds the identical JSON from the
    record arithmetic, so every field the byte parser extracted is
    value-checked, not just present."""
    from whisper_pandas_spark.sources.cdx import extract_wat
    from whisper_pandas_spark.sources.warc import read_warc

    d = _warc_tree(spark, sf_dir)
    rec = read_warc(spark, d).filter(F.col("warc_type") == "response")
    return extract_wat(rec).orderBy("url")


# ---------------------------------------------------------------------------
# cdx_zipnum_lookup
# ---------------------------------------------------------------------------

_ZN_PREFIX = "example,corpus)/doc/1"

# The oracle replays the cluster.idx INTERVAL selection from pure rank
# math: with the index sorted by SURT key and cut into B-line members,
# member m's first key is the key at rank m*B+1; a prefix query selects
# members whose [first_key, next_first_key) interval intersects
# [prefix, prefix + U+FFFF] — which is the match-containing blocks PLUS
# possibly ONE leading boundary block (the lookup cannot know whether a
# key equal to the prefix hides inside the preceding member without
# reading it; pywb pays the same block). A hash match therefore proves
# the engine's secondary-index mechanics, boundary behavior included.
_ZIPNUM_ORACLE = f"""
{_RANGE_CTES},
k AS MATERIALIZED (
  SELECT 'example,corpus)/doc/' || CAST(doc_id AS VARCHAR) AS surt_key,
         'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
         printf('warc-%05d.warc', shard) AS warc_file,
         off AS record_offset, rlen AS record_length
  FROM o
),
rk AS MATERIALIZED (
  SELECT k.*, row_number() OVER (ORDER BY surt_key) AS r FROM k
),
bb AS (
  SELECT greatest(16, CAST(ceil(count(*) / 8.0) AS BIGINT)) AS b,
         CAST(ceil(count(*) / CAST(greatest(16,
           CAST(ceil(count(*) / 8.0) AS BIGINT)) AS DOUBLE)) AS BIGINT)
           AS nblocks
  FROM k
),
firsts AS MATERIALIZED (
  SELECT (r - 1) // (SELECT b FROM bb) AS m, surt_key AS fk
  FROM rk WHERE (r - 1) % (SELECT b FROM bb) = 0
),
selm AS MATERIALIZED (
  SELECT m FROM (
    SELECT m, fk, lead(fk) OVER (ORDER BY m) AS nfk FROM firsts
  ) WHERE fk <= '{_ZN_PREFIX}' || chr(65535)
    AND (nfk IS NULL OR nfk > '{_ZN_PREFIX}')
),
mt AS MATERIALIZED (
  SELECT * FROM rk WHERE surt_key LIKE '{_ZN_PREFIX}%'
)
SELECT surt_key, url, warc_file, record_offset, record_length,
       (SELECT CAST(count(*) AS BIGINT) FROM selm) AS blocks_read,
       (SELECT nblocks FROM bb) AS n_blocks
FROM mt ORDER BY surt_key
"""


@register("cdx_zipnum_lookup", oracle=_ZIPNUM_ORACLE)
def cdx_zipnum_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y164: the CommonCrawl ZIPNUM secondary index — the sorted
    CDX cut into gzip members of B lines with a cluster.idx row per
    member (first key + byte range); a prefix query selects members
    from the TINY secondary index alone (driver interval arithmetic —
    the index of the index), range-reads + gunzips ONLY those members,
    and never scans the rest of the CDX, let alone payload shards: the
    third pruning tier of the crawl stack (cluster.idx -> CDX members
    -> WARC ranges). blocks_read / n_blocks ride the output and the
    entry RAISES unless the selection is a proper subset; the oracle
    replays the block arithmetic from pure rank math, so a hash match
    proves the cluster.idx interval selection mechanics exactly."""
    from whisper_pandas_spark.sources.cdx import (
        build_cdx,
        write_zipnum,
        zipnum_fetch,
        zipnum_select,
    )
    from whisper_pandas_spark.sources.warc import read_warc

    d = _warc_tree(spark, sf_dir)
    cdx = build_cdx(read_warc(spark, d))
    n = cdx.count()
    block_lines = max(16, -(-n // 8))
    gz = f"{scratch_dir('wps_zipnum_')}/cdx-00000.gz"
    idx = write_zipnum(cdx, gz, block_lines)
    sel = zipnum_select(idx, _ZN_PREFIX)
    if not sel or len(sel) >= len(idx):
        raise AssertionError(
            f"zipnum lookup must read a proper subset of members "
            f"({len(sel)} of {len(idx)} selected)"
        )
    parsed = zipnum_fetch(spark, gz, sel)
    return (
        parsed.filter(F.col("surt_key").startswith(_ZN_PREFIX))
        .select(
            "surt_key",
            "url",
            "warc_file",
            "record_offset",
            "record_length",
            F.lit(len(sel)).cast("bigint").alias("blocks_read"),
            F.lit(len(idx)).cast("bigint").alias("n_blocks"),
        )
        .orderBy("surt_key")
    )


# ---------------------------------------------------------------------------
# ingest_wet_roundtrip
# ---------------------------------------------------------------------------

#: Conversion-record byte constant (the WET twin of _REC_CONST):
#: no HTTP envelope, Content-Type: text/plain, payload = the text
#: bytes directly. tests/test_round14.py pins the identity.
_WET_REC_CONST = (
    len(
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Record-ID: <urn:uuid:doc->\r\n"
        "WARC-Target-URI: http://corpus.example/doc/\r\n"
        f"WARC-Date: {_WARC_DATE}\r\n"
        "Content-Type: text/plain\r\n"
        "Content-Length: "
    )
    + 4
    + 4
)

_WET_ORACLE = f"""
WITH nf AS (
  SELECT greatest(4, CAST(ceil(count(*) / 4000.0) AS BIGINT)) AS n
  FROM documents
), c AS (
  SELECT doc_id, text, doc_id % (SELECT n FROM nf) AS shard,
         octet_length(encode(text)) AS bo
  FROM documents
), r AS (
  SELECT doc_id, text, shard, bo,
         {_WET_REC_CONST} + 2 * length(CAST(doc_id AS VARCHAR))
           + length(CAST(bo AS VARCHAR)) + bo AS rlen
  FROM c
), o AS (
  SELECT doc_id, text, shard, bo, CAST(rlen AS BIGINT) AS rlen,
         CAST(coalesce(sum(rlen) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS off
  FROM r
)
SELECT doc_id,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       'conversion' AS warc_type,
       'text/plain' AS content_type,
       CAST(bo AS BIGINT) AS content_length,
       off AS record_offset,
       rlen AS record_length,
       text AS body
FROM o ORDER BY doc_id
"""


@register("ingest_wet_roundtrip", oracle=_WET_ORACLE)
def ingest_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y165: the WET container (CommonCrawl's extracted-text
    sibling) — ``conversion`` records whose payload IS the text, no
    HTTP envelope, typed text/plain: written with the same one-task-
    per-file sharder as WARC (sources/warc.py record_type=
    'conversion') and re-opened through the same byte parser (which
    already read WET; now the engine produces it too, closing the
    WARC/WAT/WET/CDX quartet). The oracle replays the conversion-
    record Content-Length AND the record offset/length arithmetic via
    per-shard window cumsums — container bytes proven, not just
    payloads."""
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    docs = table(spark, sf_dir, "documents")
    d = scratch_dir("wps_wet_")
    n_files = max(4, (docs.count() + 3999) // 4000)
    write_warc(
        docs,
        d,
        "doc_id",
        "text",
        num_files=n_files,
        compression="none",
        record_type="conversion",
    )
    rec = read_warc(spark, d).filter(F.col("warc_type") == "conversion")
    return rec.select(
        F.regexp_replace("record_id", "^doc-", "")
        .cast("bigint")
        .alias("doc_id"),
        F.col("target_uri").alias("url"),
        "warc_type",
        "content_type",
        "content_length",
        "record_offset",
        "record_length",
        F.col("body"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# pipeline_crawl_consistency
# ---------------------------------------------------------------------------

_CC_ORACLE = f"""
{_RANGE_CTES}
SELECT doc_id,
       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url,
       cl AS content_length,
       CAST(bo AS BIGINT) AS wet_length,
       TRUE AS body_match,
       TRUE AS digest_match,
       TRUE AS wat_len_ok,
       TRUE AS entity_ok
FROM o ORDER BY doc_id
"""


@register("pipeline_crawl_consistency", oracle=_CC_ORACLE)
def pipeline_crawl_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9+/Y166: the crawl-stack consistency audit — build all four
    CommonCrawl artifacts from the same corpus (WARC via the shared
    tree, WET written fresh, CDX + WAT derived from the WARC bytes)
    and verify them against EACH OTHER, not against the source:
    WARC body == WET body (two independent write->parse paths), CDX
    digest == md5 of the WET text, WAT's Content-Length field (pulled
    back out of the JSON with a codegen get_json_object) == the parsed
    WARC header, WAT's Entity-Length == the WET payload bytes. The
    oracle replays the expected numbers from arithmetic and pins every
    flag TRUE — a hash match proves the four production paths agree
    byte-for-byte on every document. All joins are on the unique URL;
    checks are pure codegen."""
    from whisper_pandas_spark.sources.cdx import build_cdx, extract_wat
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    d_warc = _warc_tree(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    d_wet = scratch_dir("wps_wetc_")
    n_files = max(4, (docs.count() + 3999) // 4000)
    write_warc(
        docs, d_wet, "doc_id", "text",
        num_files=n_files, compression="none", record_type="conversion",
    )
    r = (
        read_warc(spark, d_warc)
        .filter(F.col("warc_type") == "response")
        .select(
            F.col("target_uri").alias("url"),
            F.col("content_length").alias("r_cl"),
            F.col("body").alias("r_body"),
        )
    )
    w = (
        read_warc(spark, d_wet)
        .filter(F.col("warc_type") == "conversion")
        .select(
            F.col("target_uri").alias("url"),
            F.col("content_length").alias("w_cl"),
            F.col("body").alias("w_body"),
        )
    )
    cdx = build_cdx(read_warc(spark, d_warc)).select("url", "digest")
    wat = extract_wat(
        read_warc(spark, d_warc).filter(F.col("warc_type") == "response")
    )
    wat_cl = F.get_json_object(
        "wat", "$['Envelope']['WARC-Header-Metadata']['Content-Length']"
    ).cast("bigint")
    wat_el = F.get_json_object(
        "wat",
        "$['Envelope']['Payload-Metadata']['HTTP-Response-Metadata']"
        "['Entity-Length']",
    ).cast("bigint")
    watp = wat.select("url", wat_cl.alias("wat_cl"), wat_el.alias("wat_el"))
    out = (
        r.join(w, "url")
        .join(cdx, "url")
        .join(watp, "url")
        .select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1)
            .cast("bigint")
            .alias("doc_id"),
            "url",
            F.col("r_cl").alias("content_length"),
            F.col("w_cl").alias("wet_length"),
            (F.col("r_body") == F.col("w_body")).alias("body_match"),
            (F.col("digest") == F.md5(F.col("w_body").cast("binary"))).alias(
                "digest_match"
            ),
            (F.col("wat_cl") == F.col("r_cl")).alias("wat_len_ok"),
            (
                F.col("wat_el") == F.octet_length(F.col("w_body"))
            ).alias("entity_ok"),
        )
    )
    return out.orderBy("doc_id")


# ---------------------------------------------------------------------------
# crawl_robots_filter
# ---------------------------------------------------------------------------

_ROBOTS_ORACLE = """
WITH urls AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS domain,
    '/' || CASE doc_id % 5
      WHEN 0 THEN 'private/file' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'tmp/t' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'blog/post' || CAST(doc_id AS VARCHAR)
      ELSE 'index.html' END AS path
  FROM documents
), doms AS (
  SELECT DISTINCT doc_id % 20 AS k,
    'site' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS domain
  FROM documents
), robots AS (
  SELECT domain,
    '# synthetic robots for site' || CAST(k AS VARCHAR) || chr(10)
    || 'User-agent: specialbot' || chr(10)
    || 'Disallow: /blog' || chr(10) || chr(10)
    || 'User-agent: *' || chr(10)
    || CASE k % 4
      WHEN 0 THEN 'Disallow: /private/' || chr(10)
        || 'Allow: /private/pub/' || chr(10)
        || 'Disallow: /blog/post' || chr(10)
        || 'Allow: /blog/post' || chr(10)
      WHEN 1 THEN 'disallow: /tmp' || chr(10)
      WHEN 2 THEN 'Disallow: /' || chr(10) || 'Allow: /blog' || chr(10)
      ELSE 'Disallow:' || chr(10) END AS rtext
  FROM doms
), lines0 AS (
  SELECT domain, string_split(rtext, chr(10)) AS ls FROM robots
), lines_ AS (
  SELECT domain, CAST(i AS INT) AS pos,
    trim(string_split(ls[CAST(i AS INT)], '#')[1]) AS line
  FROM lines0, unnest(range(1, len(ls) + 1)) AS t(i)
), tagged AS (
  SELECT domain, pos, line,
    last_value(CASE WHEN lower(line) LIKE 'user-agent:%'
                    THEN trim(substr(line, 12)) END IGNORE NULLS)
      OVER (PARTITION BY domain ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ua
  FROM lines_
), rules AS (
  SELECT domain, ua,
    CASE WHEN lower(line) LIKE 'allow:%' THEN trim(substr(line, 7))
         ELSE trim(substr(line, 10)) END AS prefix,
    CASE WHEN lower(line) LIKE 'allow:%' THEN 1 ELSE 0 END AS is_allow
  FROM tagged
  WHERE (lower(line) LIKE 'allow:%' OR lower(line) LIKE 'disallow:%')
    AND ua IS NOT NULL
), star_rules AS (
  SELECT * FROM rules WHERE ua = '*' AND prefix <> ''
), joined AS (
  SELECT u.doc_id AS id, u.domain, u.path, r.prefix, r.is_allow
  FROM urls u LEFT JOIN star_rules r
    ON u.domain = r.domain AND starts_with(u.path, r.prefix)
), picked AS (
  SELECT *, row_number() OVER (
      PARTITION BY id
      ORDER BY length(prefix) DESC, is_allow DESC, prefix) AS rn
  FROM joined
)
SELECT id, domain, path,
  CAST(CASE WHEN prefix IS NULL THEN 1 ELSE is_allow END AS INT)
    AS allowed,
  CASE WHEN prefix IS NOT NULL THEN
    (CASE WHEN is_allow = 1 THEN 'A:' ELSE 'D:' END) || prefix END AS rule
FROM picked WHERE rn = 1 ORDER BY id
"""


@register("crawl_robots_filter", oracle=_ROBOTS_ORACLE)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y176: robots.txt evaluation (RFC 9309 — operators/robots.py),
    the crawl-politeness stage the WARC/WET/WAT/CDX/ZIPNUM stack
    lacked: a selective re-crawl evaluates every candidate URL against
    its domain's robots BEFORE touching payload shards. The in-query
    corpus plants every protocol trap: a specific-agent group whose
    rules must NOT leak into '*' (group tracking is load-bearing),
    comment lines, a lowercase directive, an EMPTY Disallow (no
    restriction per RFC), an Allow overriding a longer Disallow
    (/private/pub/ inside /private/), an exact length TIE where Allow
    must win (/blog/post), and a Disallow-everything domain with one
    carve-out. Parse is split/trim/CASE codegen with a running
    last-non-null window for group membership; evaluation is one
    broadcast domain equi-join + startswith and one per-URL
    longest-match window. The oracle replays parse AND evaluation from
    the same synthesized bytes."""
    from whisper_pandas_spark.operators.robots import (
        evaluate_urls,
        parse_robots,
    )

    docs = table(spark, sf_dir, "documents")
    nl = "\n"
    urls = docs.select(
        "doc_id",
        F.expr(
            "'site' || CAST(doc_id % 20 AS STRING) || '.example'"
        ).alias("domain"),
        F.expr(
            "'/' || CASE doc_id % 5 "
            "WHEN 0 THEN 'private/file' || CAST(doc_id AS STRING) "
            "WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS STRING) "
            "WHEN 2 THEN 'tmp/t' || CAST(doc_id AS STRING) "
            "WHEN 3 THEN 'blog/post' || CAST(doc_id AS STRING) "
            "ELSE 'index.html' END"
        ).alias("path"),
    )
    doms = docs.select(
        (F.col("doc_id") % 20).alias("k"),
        F.expr(
            "'site' || CAST(doc_id % 20 AS STRING) || '.example'"
        ).alias("domain"),
    ).distinct()
    robots = doms.select(
        "domain",
        F.concat(
            F.lit("# synthetic robots for site"),
            F.col("k").cast("string"),
            F.lit(nl),
            F.lit("User-agent: specialbot" + nl),
            F.lit("Disallow: /blog" + nl + nl),
            F.lit("User-agent: *" + nl),
            F.when(
                F.col("k") % 4 == 0,
                F.lit(
                    "Disallow: /private/" + nl
                    + "Allow: /private/pub/" + nl
                    + "Disallow: /blog/post" + nl
                    + "Allow: /blog/post" + nl
                ),
            )
            .when(F.col("k") % 4 == 1, F.lit("disallow: /tmp" + nl))
            .when(
                F.col("k") % 4 == 2,
                F.lit("Disallow: /" + nl + "Allow: /blog" + nl),
            )
            .otherwise(F.lit("Disallow:" + nl)),
        ).alias("rtext"),
    )
    rules = parse_robots(robots, "domain", "rtext")
    return evaluate_urls(
        urls, rules, "doc_id", "domain", "path"
    ).orderBy("id")


# ---------------------------------------------------------------------------
# crawl_sitemap_delta
# ---------------------------------------------------------------------------

_SITEMAP_ORACLE = """
WITH urls AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS domain,
    'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example/'
      || CASE doc_id % 5
        WHEN 0 THEN 'private/file' || CAST(doc_id AS VARCHAR)
        WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS VARCHAR)
        WHEN 2 THEN 'tmp/t' || CAST(doc_id AS VARCHAR)
        WHEN 3 THEN 'blog/post' || CAST(doc_id AS VARCHAR)
        ELSE 'page' || CAST(doc_id AS VARCHAR) || '.html' END AS url,
    '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      AS lastmod
  FROM documents
), blocks AS (
  SELECT doc_id, domain,
    '<url><loc>' || url || '</loc><lastmod>' || lastmod
      || '</lastmod></url>' AS block
  FROM urls
), sitemaps AS (
  SELECT domain,
    '<?xml version="1.0" encoding="UTF-8"?>'
    || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    || string_agg(block, '' ORDER BY doc_id) || '</urlset>' AS xml
  FROM blocks GROUP BY domain
), parsed0 AS (
  SELECT domain,
    unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS u
  FROM sitemaps
), parsed AS (
  SELECT domain,
    regexp_extract(u, '<loc>(.*?)</loc>', 1) AS url,
    regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1) AS lastmod
  FROM parsed0
), state AS (
  SELECT url,
    '2024-01-' || lpad(CAST((doc_id * 7) % 28 + 1 AS VARCHAR), 2, '0')
      AS last_crawl
  FROM urls WHERE doc_id % 3 <> 0
)
SELECT p.url, p.domain, p.lastmod, s.last_crawl,
  CASE WHEN s.last_crawl IS NULL THEN 'new'
       WHEN p.lastmod > s.last_crawl THEN 'changed'
       ELSE 'fresh' END AS verdict
FROM parsed p LEFT JOIN state s ON p.url = s.url
ORDER BY p.url
"""


@register("crawl_sitemap_delta", oracle=_SITEMAP_ORACLE)
def crawl_sitemap_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y177: sitemap-driven incremental re-crawl planning (the
    sitemaps.org protocol next to [[Y176]]'s robots): per-domain
    sitemap XML is BUILT from the corpus (deterministic string_agg in
    doc order) and then RE-PARSED by the real extraction path —
    non-greedy regexp block split (Java regex and RE2 agree,
    parity-probed) + per-block loc/lastmod extraction — so the hash
    proves the parser, not just the plan; parsed URLs left-join the
    prior-crawl state and classify new / changed / fresh (lastmod
    vs last-crawl as ISO dates, compared lexicographically — no
    timestamp-parse drift). This is the CDX-first doctrine applied
    forward in time: the fetch list is decided from index-sized
    tables alone, payload shards untouched. Scale: sitemap build and
    parse shuffle once on domain (XML stays domain-sized, the
    protocol's own 50k-URL/file cap); the state join is URL-keyed."""
    docs = table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.expr(
            "'site' || CAST(doc_id % 20 AS STRING) || '.example'"
        ).alias("domain"),
        F.expr(
            "'https://site' || CAST(doc_id % 20 AS STRING) || '.example/'"
            " || CASE doc_id % 5 "
            "WHEN 0 THEN 'private/file' || CAST(doc_id AS STRING) "
            "WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS STRING) "
            "WHEN 2 THEN 'tmp/t' || CAST(doc_id AS STRING) "
            "WHEN 3 THEN 'blog/post' || CAST(doc_id AS STRING) "
            "ELSE 'page' || CAST(doc_id AS STRING) || '.html' END"
        ).alias("url"),
        F.expr(
            "'2024-01-' || lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0')"
        ).alias("lastmod"),
    )
    blocks = urls.select(
        "doc_id",
        "domain",
        F.concat(
            F.lit("<url><loc>"),
            F.col("url"),
            F.lit("</loc><lastmod>"),
            F.col("lastmod"),
            F.lit("</lastmod></url>"),
        ).alias("block"),
    )
    sitemaps = (
        blocks.groupBy("domain")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "block"))
            ).alias("bs")
        )
        .select(
            "domain",
            F.concat(
                F.lit(
                    '<?xml version="1.0" encoding="UTF-8"?>'
                    '<urlset xmlns='
                    '"http://www.sitemaps.org/schemas/sitemap/0.9">'
                ),
                F.concat_ws(
                    "", F.transform(F.col("bs"), lambda b: b["block"])
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
        )
    )
    parsed = sitemaps.select(
        "domain",
        F.explode(
            F.expr("regexp_extract_all(xml, '<url>(.*?)</url>', 1)")
        ).alias("u"),
    ).select(
        "domain",
        F.regexp_extract("u", "<loc>(.*?)</loc>", 1).alias("url"),
        F.regexp_extract("u", "<lastmod>(.*?)</lastmod>", 1).alias(
            "lastmod"
        ),
    )
    state = urls.filter(F.col("doc_id") % 3 != 0).select(
        "url",
        F.expr(
            "'2024-01-' || lpad(CAST((doc_id * 7) % 28 + 1 AS STRING),"
            " 2, '0')"
        ).alias("last_crawl"),
    )
    return (
        parsed.join(state, "url", "left")
        .select(
            "url",
            "domain",
            "lastmod",
            "last_crawl",
            F.when(F.col("last_crawl").isNull(), "new")
            .when(F.col("lastmod") > F.col("last_crawl"), "changed")
            .otherwise("fresh")
            .alias("verdict"),
        )
        .orderBy("url")
    )


# ---------------------------------------------------------------------------
# crawl_politeness_schedule
# ---------------------------------------------------------------------------

_POL_DEFAULT_S = 5

_POL_ORACLE = f"""
WITH urls AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS domain,
    '/' || CASE doc_id % 5
      WHEN 0 THEN 'private/file' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'tmp/t' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN 'blog/post' || CAST(doc_id AS VARCHAR)
      ELSE 'index.html' END AS path
  FROM documents
), doms AS (
  SELECT DISTINCT doc_id % 20 AS k,
    'site' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS domain
  FROM documents
), robots AS (
  SELECT domain,
    '# synthetic robots for site' || CAST(k AS VARCHAR) || chr(10)
    || 'User-agent: specialbot' || chr(10)
    || 'Disallow: /blog' || chr(10)
    || 'Crawl-delay: 99' || chr(10) || chr(10)
    || 'User-agent: *' || chr(10)
    || CASE k % 4
      WHEN 0 THEN 'Disallow: /private/' || chr(10)
        || 'Allow: /private/pub/' || chr(10)
      WHEN 1 THEN 'disallow: /tmp' || chr(10)
      WHEN 2 THEN 'Disallow: /' || chr(10) || 'Allow: /blog' || chr(10)
      ELSE 'Disallow:' || chr(10) END
    || CASE k % 3
      WHEN 0 THEN 'Crawl-delay: ' || CAST(k % 7 + 1 AS VARCHAR) || chr(10)
      ELSE '' END AS rtext
  FROM doms
), lines0 AS (
  SELECT domain, string_split(rtext, chr(10)) AS ls FROM robots
), lines_ AS (
  SELECT domain, CAST(i AS INT) AS pos,
    trim(string_split(ls[CAST(i AS INT)], '#')[1]) AS line
  FROM lines0, unnest(range(1, len(ls) + 1)) AS t(i)
), tagged AS (
  SELECT domain, pos, line,
    last_value(CASE WHEN lower(line) LIKE 'user-agent:%'
                    THEN trim(substr(line, 12)) END IGNORE NULLS)
      OVER (PARTITION BY domain ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ua
  FROM lines_
), star_rules AS (
  SELECT domain,
    CASE WHEN lower(line) LIKE 'allow:%' THEN trim(substr(line, 7))
         ELSE trim(substr(line, 10)) END AS prefix,
    CASE WHEN lower(line) LIKE 'allow:%' THEN 1 ELSE 0 END AS is_allow
  FROM tagged
  WHERE (lower(line) LIKE 'allow:%' OR lower(line) LIKE 'disallow:%')
    AND ua = '*'
    AND (CASE WHEN lower(line) LIKE 'allow:%' THEN trim(substr(line, 7))
              ELSE trim(substr(line, 10)) END) <> ''
), joined AS (
  SELECT u.doc_id AS id, u.domain, r.prefix, r.is_allow
  FROM urls u LEFT JOIN star_rules r
    ON u.domain = r.domain AND starts_with(u.path, r.prefix)
), picked AS (
  SELECT *, row_number() OVER (
      PARTITION BY id
      ORDER BY length(prefix) DESC, is_allow DESC, prefix) AS rn
  FROM joined
), allowed AS (
  SELECT id, domain FROM picked
  WHERE rn = 1 AND (prefix IS NULL OR is_allow = 1)
), declared AS (
  SELECT domain, max(try_cast(trim(substr(line, 13)) AS BIGINT)) AS d
  FROM tagged
  WHERE lower(line) LIKE 'crawl-delay:%' AND ua = '*'
    AND try_cast(trim(substr(line, 13)) AS BIGINT) >= 0
  GROUP BY domain
), delays AS (
  SELECT m.domain,
    CAST(coalesce(d.d, {_POL_DEFAULT_S}) AS BIGINT) AS delay_s
  FROM (SELECT domain FROM doms) m LEFT JOIN declared d USING (domain)
), sched AS (
  SELECT a.id, a.domain,
    CAST(row_number() OVER (PARTITION BY a.domain ORDER BY a.id) - 1
         AS BIGINT) AS slot,
    dl.delay_s
  FROM allowed a JOIN delays dl USING (domain)
)
SELECT id, domain, slot, slot * delay_s AS fetch_at_s, delay_s
FROM sched ORDER BY id
"""


@register("crawl_politeness_schedule", oracle=_POL_ORACLE)
def crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y183: crawl politeness planning — [[Y176]]'s robots evaluation
    composed with the de-facto Crawl-delay directive (Heritrix/Nutch
    semantics) into a per-domain fetch schedule: ONLY robots-allowed
    URLs get slots, one fetch per delay window per domain
    (fetch_at_s = slot x delay_s, makespan (n-1)·delay by
    construction). The fixture plants a POISON Crawl-delay: 99 inside
    the specialbot group — if group tracking leaked, every domain
    would schedule at 99 s; the '*' group declares its own delay for
    a third of the domains (k%7+1 s), the rest fall back to the
    {_POL_DEFAULT_S} s default; try_cast guards invalid values. The
    whole chain — parse, evaluation, delay extraction, slotting — is
    codegen + two windows; the oracle replays it end-to-end. Scale:
    the schedule is ONE window per domain over the allowed frontier;
    at web scale the frontier shards by domain hash exactly like the
    blocking families."""
    from whisper_pandas_spark.operators.robots import (
        evaluate_urls,
        parse_crawl_delay,
        parse_robots,
        politeness_schedule,
    )

    docs = table(spark, sf_dir, "documents")
    nl = "\n"
    urls = docs.select(
        "doc_id",
        F.expr(
            "'site' || CAST(doc_id % 20 AS STRING) || '.example'"
        ).alias("domain"),
        F.expr(
            "'/' || CASE doc_id % 5 "
            "WHEN 0 THEN 'private/file' || CAST(doc_id AS STRING) "
            "WHEN 1 THEN 'private/pub/p' || CAST(doc_id AS STRING) "
            "WHEN 2 THEN 'tmp/t' || CAST(doc_id AS STRING) "
            "WHEN 3 THEN 'blog/post' || CAST(doc_id AS STRING) "
            "ELSE 'index.html' END"
        ).alias("path"),
    )
    doms = docs.select(
        (F.col("doc_id") % 20).alias("k"),
        F.expr(
            "'site' || CAST(doc_id % 20 AS STRING) || '.example'"
        ).alias("domain"),
    ).distinct()
    robots = doms.select(
        "domain",
        F.concat(
            F.lit("# synthetic robots for site"),
            F.col("k").cast("string"),
            F.lit(nl),
            F.lit("User-agent: specialbot" + nl),
            F.lit("Disallow: /blog" + nl),
            F.lit("Crawl-delay: 99" + nl + nl),
            F.lit("User-agent: *" + nl),
            F.when(
                F.col("k") % 4 == 0,
                F.lit(
                    "Disallow: /private/" + nl + "Allow: /private/pub/" + nl
                ),
            )
            .when(F.col("k") % 4 == 1, F.lit("disallow: /tmp" + nl))
            .when(
                F.col("k") % 4 == 2,
                F.lit("Disallow: /" + nl + "Allow: /blog" + nl),
            )
            .otherwise(F.lit("Disallow:" + nl)),
            F.when(
                F.col("k") % 3 == 0,
                F.concat(
                    F.lit("Crawl-delay: "),
                    (F.col("k") % 7 + 1).cast("string"),
                    F.lit(nl),
                ),
            ).otherwise(F.lit("")),
        ).alias("rtext"),
    )
    rules = parse_robots(robots, "domain", "rtext")
    verdicts = evaluate_urls(urls, rules, "doc_id", "domain", "path")
    allowed = verdicts.filter(F.col("allowed") == 1).select(
        F.col("id").alias("doc_id"), "domain"
    )
    delays = parse_crawl_delay(robots, "domain", "rtext", _POL_DEFAULT_S)
    return politeness_schedule(allowed, delays, "doc_id", "domain").orderBy(
        "id"
    )
