"""Round 14: CDX index, WAT metadata, selective range fetch."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import functions as F


def _docs(spark, n=30):
    return spark.createDataFrame(
        [(i, f"body {i} with unicode é中 " + "x" * (i % 7)) for i in range(n)],
        "doc_id long, text string",
    )


def test_rec_const_pins_build_record():
    """The oracle's record-length arithmetic must match the writer's
    actual bytes for any id/body, or every round-14 oracle drifts."""
    from whisper_pandas_spark.queries_ingest import _REC_CONST, _WARC_DATE
    from whisper_pandas_spark.sources.warc import _build_record

    for i, body in [(0, b""), (7, b"xyz"), (12345, "é中".encode())]:
        cl = len(
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/plain; charset=utf-8\r\n"
            + f"Content-Length: {len(body)}".encode()
            + b"\r\n\r\n"
            + body
        )
        rec = _build_record(
            "response",
            f"doc-{i}",
            f"http://corpus.example/doc/{i}",
            _WARC_DATE,
            body,
            http=True,
        )
        assert len(rec) == _REC_CONST + 2 * len(str(i)) + len(str(cl)) + cl


def test_cdx_ranges_are_seekable_plain(spark, tmp_path):
    """Plain .warc: every CDX (offset, length) slice must re-parse
    standalone to exactly its record."""
    from whisper_pandas_spark.sources.cdx import build_cdx
    from whisper_pandas_spark.sources.warc import (
        _parse_warc_bytes,
        read_warc,
        write_warc,
    )

    d = str(tmp_path / "w")
    write_warc(_docs(spark), d, "doc_id", "text", num_files=3)
    cdx = build_cdx(read_warc(spark, d)).collect()
    assert len(cdx) == 30
    blobs = {p.name: p.read_bytes() for p in (tmp_path / "w").iterdir()}
    for r in cdx:
        chunk = blobs[r["warc_file"]][
            r["record_offset"] : r["record_offset"] + r["record_length"]
        ]
        recs = list(_parse_warc_bytes(r["warc_file"], chunk))
        assert len(recs) == 1
        doc_id = int(r["url"].rsplit("/", 1)[-1])
        assert recs[0][4] == f"doc-{doc_id}"
        assert r["surt_key"] == f"example,corpus)/doc/{doc_id}"
        assert r["mime"] == "text/plain; charset=utf-8"
        assert r["http_status"] == 200


def test_cdx_ranges_are_gzip_members(spark, tmp_path):
    """.warc.gz: CDX offsets must be COMPRESSED member ranges — each
    slice gunzips standalone (what an HTTP range GET of CommonCrawl
    returns)."""
    from whisper_pandas_spark.sources.cdx import build_cdx
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    d = str(tmp_path / "w")
    write_warc(
        _docs(spark), d, "doc_id", "text", num_files=2, compression="gzip"
    )
    blobs = {p.name: p.read_bytes() for p in (tmp_path / "w").iterdir()}
    cdx = build_cdx(read_warc(spark, d)).collect()
    assert len(cdx) == 30
    for r in cdx:
        chunk = blobs[r["warc_file"]][
            r["record_offset"] : r["record_offset"] + r["record_length"]
        ]
        member = gzip.decompress(chunk)  # standalone member
        doc_id = int(r["url"].rsplit("/", 1)[-1])
        assert f"doc-{doc_id}".encode() in member
        assert member.startswith(b"WARC/1.0\r\n")
    # ranges tile each file exactly: sorted (offset, length) chains to EOF
    per_file: dict[str, list] = {}
    for r in cdx:
        per_file.setdefault(r["warc_file"], []).append(
            (r["record_offset"], r["record_length"])
        )
    for fname, ranges in per_file.items():
        ranges.sort()
        pos = 0
        for off, ln in ranges:
            assert off == pos
            pos += ln
        assert pos == len(blobs[fname])


def test_fetch_ranges_gzip_and_prefix(spark, tmp_path):
    """Selective fetch over the CC gzip layout: URL-prefix hits only,
    bodies intact, offsets preserved."""
    from whisper_pandas_spark.sources.cdx import build_cdx, fetch_ranges
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    d = str(tmp_path / "w")
    write_warc(
        _docs(spark), d, "doc_id", "text", num_files=2, compression="gzip"
    )
    cdx = build_cdx(read_warc(spark, d))
    hits = cdx.filter(F.col("url").like("http://corpus.example/doc/1%"))
    got = {
        int(r["record_id"].removeprefix("doc-")): r
        for r in fetch_ranges(spark, d, hits).collect()
    }
    want = {1} | set(range(10, 20))
    assert set(got) == want
    for i in want:
        assert got[i]["body"] == f"body {i} with unicode é中 " + "x" * (i % 7)
        assert got[i]["http_status"] == 200
    # fetched offsets must equal the index's offsets (rebased correctly)
    idx = {
        int(r["url"].rsplit("/", 1)[-1]): r["record_offset"]
        for r in hits.collect()
    }
    for i in want:
        assert got[i]["record_offset"] == idx[i]


def test_wat_json_parses_and_matches(spark, tmp_path):
    from whisper_pandas_spark.sources.cdx import extract_wat
    from whisper_pandas_spark.sources.warc import read_warc, write_warc

    d = str(tmp_path / "w")
    write_warc(_docs(spark, 5), d, "doc_id", "text", num_files=2)
    rec = read_warc(spark, d).filter(F.col("warc_type") == "response")
    for r in extract_wat(rec).collect():
        w = json.loads(r["wat"])  # valid JSON
        env = w["Envelope"]
        doc_id = int(r["url"].rsplit("/", 1)[-1])
        hm = env["WARC-Header-Metadata"]
        assert hm["WARC-Type"] == "response"
        assert hm["WARC-Record-ID"] == f"<urn:uuid:doc-{doc_id}>"
        assert hm["WARC-Target-URI"] == r["url"]
        pm = env["Payload-Metadata"]
        assert pm["HTTP-Response-Metadata"]["Response-Message"]["Status"] == "200"
        body = f"body {doc_id} with unicode é中 " + "x" * (doc_id % 7)
        assert int(pm["HTTP-Response-Metadata"]["Entity-Length"]) == len(
            body.encode()
        )
        assert w["Container"]["Filename"].startswith("warc-")


def test_response_without_crlfcrlf_yields_null_body(spark, tmp_path):
    """ADVICE r13: a response payload with no CRLFCRLF separator must
    parse as headers-only (NULL body), never a mangled slice."""
    from whisper_pandas_spark.sources.warc import _parse_warc_bytes

    payload = b"HTTP/1.1 204 No Content\r\nX-Weird: yes"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Record-ID: <urn:uuid:doc-1>\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Type: application/http; msgtype=response\r\n"
        + f"Content-Length: {len(payload)}".encode()
        + b"\r\n\r\n"
        + payload
        + b"\r\n\r\n"
    )
    rows = list(_parse_warc_bytes("x.warc", rec))
    assert len(rows) == 1
    (_f, _o, _ln, _t, _id, _uri, _dt, _ct, _hct, _cl, status, body) = rows[0]
    assert status == 204
    assert body is None


def test_multi_record_gzip_member_shares_range(tmp_path):
    """A member holding 2 records maps both to the member's compressed
    range (that IS what a range GET returns)."""
    from whisper_pandas_spark.sources.warc import (
        _build_record,
        _parse_warc_bytes,
    )

    r1 = _build_record(
        "response", "doc-1", "http://x.example/1",
        "2024-01-01T00:00:00Z", b"one", http=True,
    )
    r2 = _build_record(
        "response", "doc-2", "http://x.example/2",
        "2024-01-01T00:00:00Z", b"two", http=True,
    )
    m1 = gzip.compress(r1 + r2)
    m2 = gzip.compress(r1)
    rows = list(_parse_warc_bytes("x.warc.gz", m1 + m2))
    assert [(r[1], r[2]) for r in rows] == [
        (0, len(m1)),
        (0, len(m1)),
        (len(m1), len(m2)),
    ]


def test_doremi_weights_properties(spark):
    """Hard domains gain, easy domains lose, fractions stay normalized,
    and the trajectory is partitioning-invariant."""
    from whisper_pandas_spark.operators.doremi import (
        LOSS_SCALE,
        doremi_weights,
    )

    rows = []
    for i in range(300):
        dom = ["easy", "mid", "hard"][i % 3]
        # mid must sit ABOVE the corpus mean or its excess is 0 and it
        # ties easy (excess = max(0, domain mean - overall mean))
        il = {"easy": 0, "mid": (7 * LOSS_SCALE) // 10, "hard": LOSS_SCALE}[
            dom
        ]
        rows.append((dom, il))
    losses = spark.createDataFrame(rows, "domain string, il long")
    hist = doremi_weights(losses, "domain", "il", iters=6).toPandas()
    assert len(hist) == 7 * 3
    f = hist[hist["iter"] == 6].set_index("domain")
    assert f.loc["hard", "weight"] > f.loc["mid", "weight"] > f.loc[
        "easy", "weight"
    ]
    assert f.loc["hard", "weight"] > 0.5  # eta=1 on max excess bites
    for t in range(7):
        assert abs(hist[hist["iter"] == t]["weight"].sum() - 1.0) < 1e-4
    # iter 0 is uniform
    assert set(hist[hist["iter"] == 0]["w"]) == {1_000_000_000}
    # exact-integer trajectory is independent of input partitioning
    hist2 = doremi_weights(
        losses.repartition(7), "domain", "il", iters=6
    ).toPandas()
    a = hist.sort_values(["iter", "domain"]).reset_index(drop=True)
    b = hist2.sort_values(["iter", "domain"]).reset_index(drop=True)
    assert (a["w"] == b["w"]).all()


def test_doremi_guards(spark):
    import pytest as _pytest

    from whisper_pandas_spark.operators.doremi import doremi_weights

    losses = spark.createDataFrame([("a", 1)], "domain string, il long")
    with _pytest.raises(ValueError):
        doremi_weights(losses, "domain", "il", iters=0)
    with _pytest.raises(ValueError):
        doremi_weights(losses, "domain", "il", iters=9)
    with _pytest.raises(ValueError):
        doremi_weights(
            losses.filter("il > 1"), "domain", "il", iters=2
        )


def test_doremi_replay_sql_matches_python(spark):
    """The DuckDB replay and the Python loop agree on the exact BIGINT
    trajectory for a synthetic loss table."""
    import duckdb

    from whisper_pandas_spark.operators.doremi import (
        doremi_replay_sql,
        doremi_weights,
    )

    rows = [(f"d{i % 4}", (i * 37) % 1_000_001) for i in range(200)]
    losses = spark.createDataFrame(rows, "domain string, il long")
    hist = (
        doremi_weights(losses, "domain", "il", iters=5)
        .toPandas()
        .sort_values(["iter", "domain"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE loss_t AS SELECT * FROM (VALUES "
        + ",".join(f"('{d}', {il})" for d, il in rows)
        + ") t(domain, il)"
    )
    chain = doremi_replay_sql("loss_t", "domain", "il", iters=5)
    got = con.execute(
        f"WITH {chain} SELECT iter, domain, CAST(w AS BIGINT) AS w "
        "FROM hist ORDER BY iter, domain"
    ).fetchdf()
    assert (hist["w"].to_numpy() == got["w"].to_numpy()).all()


def test_encoding_fix_planted_mojibake_property(spark):
    """Property test (hypothesis): for arbitrary unicode documents,
    repair is the exact inverse of 1 or 2 planted cp1252 mis-decodes,
    and a no-op on the clean text. One Spark pass over the whole
    example batch (per-example Spark jobs would be pathological)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from whisper_pandas_spark.operators.encoding import (
        corrupt_encoding,
        fix_encoding,
    )

    texts = st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=24,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(batch=texts)
    def check(batch):
        from pyspark.sql import functions as FF

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(batch)], "i long, s string"
        )
        out = df.select(
            "i",
            "s",
            fix_encoding(corrupt_encoding(FF.col("s")), passes=1).alias("r1"),
            fix_encoding(
                corrupt_encoding(corrupt_encoding(FF.col("s"))), passes=2
            ).alias("r2"),
        ).collect()
        for r in out:
            assert r["r1"] == r["s"], repr(r["s"])
            assert r["r2"] == r["s"], repr(r["s"])

    check()


def test_encoding_fix_leaves_real_text_alone(spark):
    """The guards must protect legitimate accented/CJK text (single
    latin-1 accents are never valid UTF-8 sequences) while repairing
    the classic mojibake shapes."""
    from pyspark.sql import functions as FF

    from whisper_pandas_spark.operators.encoding import fix_encoding

    cases = [
        # (input, expected)
        ("plain ascii", "plain ascii"),
        ("café pâte déjà vu", "café pâte déjà vu"),  # real accents
        ("中文文档 étude", "中文文档 étude"),  # CJK + accents
        ("price 5€ — ok", "price 5€ — ok"),  # real cp1252-ish glyphs
        ("cafÃ©", "café"),  # classic UTF-8-as-latin1
        ("donâ€™t â€” dash", "don’t — dash"),  # cp1252-in-UTF-8
        ("SÃ£o Paulo", "São Paulo"),
        ("Ã©Ã¨Ã«", "éèë"),
    ]
    df = spark.createDataFrame(cases, "s string, want string")
    out = df.select(
        "s", "want", fix_encoding(FF.col("s"), passes=2).alias("got")
    ).collect()
    for r in out:
        assert r["got"] == r["want"], (r["s"], r["got"], r["want"])


def test_ann_recall_audit_invariants(spark, sf_dir):
    """Four methods, exact-integer hit/candidate counts, recall within
    bounds, and the high-recall families (bucketed LSH-multi, IVF-SQ8)
    actually deliver on the fixture."""
    from whisper_pandas_spark.queries_similarity import emb_ann_recall_audit

    rows = {r["method"]: r for r in emb_ann_recall_audit(spark, sf_dir).collect()}
    assert set(rows) == {"lsh_multi", "ivf_sq8", "ivf_pq", "jl_rp"}
    for m, r in rows.items():
        assert r["n_queries"] == 5 and r["k"] == 10
        assert 0 <= r["hits"] <= 50, m
        assert 0.0 <= r["recall_at_k"] <= 1.0, m
        assert r["cand_total"] > 0, m
        assert abs(r["avg_candidates"] - r["cand_total"] / 5.0) < 1e-5, m
    # the candidate-bounded exact-scoring families must stay high-recall
    assert rows["ivf_sq8"]["recall_at_k"] >= 0.8
    assert rows["lsh_multi"]["recall_at_k"] >= 0.8
    # JL scores every non-self pair by construction
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert rows["jl_rp"]["cand_total"] == 5 * (n - 1)


def test_stream_curation_state_and_merge_law(spark, tmp_path):
    """Cross-batch dedup resolves to the GLOBAL min doc_id regardless
    of arrival order, and a full reprocess (fresh checkpoint) leaves
    both state tables byte-identical (idempotent merges)."""
    from whisper_pandas_spark.operators.merge import current_version_path
    from whisper_pandas_spark.streaming.curation import (
        curation_read_off,
        stream_curation,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the wide green field towards the distant river bank"
    )
    rows = [
        # batch f0 carries the HIGHER id of a dup pair; f1 the lower:
        # the registry must settle on the global min (7), not first-seen
        (9, "en", base_text),
        (8, "en", base_text + " unique tail eight"),
        (1, "de", "zz"),  # fails the entropy/token gate
        (7, "en", base_text),
        (5, "fr", base_text + " une variante unique ici"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    d = str(tmp_path)
    df.filter("doc_id >= 8").coalesce(1).write.parquet(f"{d}/changes/f0")
    df.filter("doc_id < 8").coalesce(1).write.parquet(f"{d}/changes/f1")

    def run(ckpt):
        sdf = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/changes/*")
        )
        q = stream_curation(
            sdf, f"{d}/state", min_entropy=1.5, min_tokens=10,
            checkpoint_dir=ckpt,
        )
        q.processAllAvailable()
        q.stop()

    run(f"{d}/ck1")
    reg1 = sorted(
        map(tuple, spark.read.parquet(
            current_version_path(f"{d}/state/registry")).collect())
    )
    docs1 = sorted(
        map(tuple, spark.read.parquet(
            current_version_path(f"{d}/state/docs")).collect())
    )
    run(f"{d}/ck2")  # full reprocess
    reg2 = sorted(
        map(tuple, spark.read.parquet(
            current_version_path(f"{d}/state/registry")).collect())
    )
    docs2 = sorted(
        map(tuple, spark.read.parquet(
            current_version_path(f"{d}/state/docs")).collect())
    )
    assert reg1 == reg2 and docs1 == docs2  # idempotent merge laws
    out = {
        r["doc_id"]: r
        for r in curation_read_off(
            spark, f"{d}/state", n_target=3, seed=1
        ).collect()
    }
    assert len(out) == 5
    assert out[7]["is_canonical"] is True  # global min wins
    assert out[9]["is_canonical"] is False  # earlier-arriving dup loses
    assert out[1]["entropy_ok"] is False and out[1]["is_canonical"] is False
    assert out[8]["is_canonical"] and out[5]["is_canonical"]


def test_funnel_correct_with_reliable_checkpoint(tmp_path, sf_dir):
    """The curation funnel's barriers bind to a reliable checkpoint dir
    on a fresh default-config session (the cluster deployment mode of
    stage.py:stage_materialize), write checkpoint files, and stay
    value-identical to the DuckDB oracle."""
    from tests.test_barriers import run_reliable_barriers

    run_reliable_barriers(
        tmp_path, sf_dir, ("pipeline_curation_end_to_end",)
    )


def test_zipnum_members_and_selection(spark, tmp_path):
    """zipnum members tile the shard, every member gunzips standalone,
    and cluster.idx interval selection equals the rank-arithmetic
    block set for MANY prefixes (the oracle's first-principles
    formula)."""
    import gzip as _gz

    from whisper_pandas_spark.sources.cdx import (
        write_zipnum,
        zipnum_fetch,
        zipnum_select,
    )

    rows = [
        (f"com,example)/p/{i:04d}", f"http://example.com/p/{i:04d}",
         "warc-00000.warc", i * 100, 100)
        for i in range(137)
    ]
    cdx = spark.createDataFrame(
        rows,
        "surt_key string, url string, warc_file string, "
        "record_offset long, record_length long",
    )
    gz = str(tmp_path / "cdx-00000.gz")
    idx = write_zipnum(cdx.repartition(5), gz, block_lines=20)
    assert len(idx) == 7  # ceil(137/20)
    blob = open(gz, "rb").read()
    pos = 0
    total_lines = 0
    for first, off, ln, n in idx:
        assert off == pos  # members tile the file exactly
        member = _gz.decompress(blob[off : off + ln])
        lines = member.decode().splitlines()
        assert lines[0].startswith(first)
        total_lines += len(lines)
        assert len(lines) == n
        pos += ln
    assert pos == len(blob) and total_lines == 137

    keys = sorted(r[0] for r in rows)
    for prefix in ("com,example)/p/00", "com,example)/p/01",
                   "com,example)/p/0001", "com,example)/p/013",
                   "com,example)/p/"):
        match_ranks = [i + 1 for i, k in enumerate(keys)
                       if k.startswith(prefix)]
        sel = zipnum_select(idx, prefix)
        core = set(
            range((match_ranks[0] - 1) // 20, (match_ranks[-1] - 1) // 20 + 1)
        )
        got = {idx.index(m) for m in sel}
        # interval selection = match blocks + at most ONE leading
        # boundary block (the member that might hide a key == prefix)
        assert core <= got <= core | {min(core) - 1}, prefix
        fetched = zipnum_fetch(spark, gz, sel).collect()
        got_keys = sorted(
            r["surt_key"] for r in fetched if r["surt_key"].startswith(prefix)
        )
        assert got_keys == [k for k in keys if k.startswith(prefix)]


def test_doremi_mixture_follows_weights(spark, sf_dir):
    """Rates derive from the exact final weights; kept is the md5 gate;
    every rate is in (0, 1]."""
    from whisper_pandas_spark.queries_pipeline import (
        _DOREMI_ITERS,
        sample_doremi_mixture,
        sample_doremi_weights,
    )

    out = sample_doremi_mixture(spark, sf_dir).toPandas()
    w = sample_doremi_weights(spark, sf_dir).toPandas()
    fin = w[w["iter"] == _DOREMI_ITERS].set_index("source")["w"]
    per = out.drop_duplicates("source").set_index("source")
    assert (per["w"].sort_index() == fin.sort_index()).all()
    assert ((out["sample_rate"] > 0) & (out["sample_rate"] <= 1.0001)).all()
    assert out["kept"].any() and not out["kept"].all()


def test_web_mojibake_equals_plain_funnel(spark, sf_dir):
    """Corrupt -> repair composed ahead of the strip stage must leave
    the entire downstream funnel bit-identical."""
    from whisper_pandas_spark.queries_web import (
        pipeline_web_end_to_end,
        pipeline_web_mojibake,
    )

    a = pipeline_web_end_to_end(spark, sf_dir).collect()
    b = pipeline_web_mojibake(spark, sf_dir).collect()
    assert a == b


def test_wet_rec_const_and_gzip_roundtrip(spark, tmp_path):
    """The WET record-length identity pins _build_record's conversion
    shape, and the gzip WET layout (one member per record) round-trips
    with text intact and no HTTP fields."""
    from whisper_pandas_spark.queries_ingest import _WARC_DATE, _WET_REC_CONST
    from whisper_pandas_spark.sources.warc import (
        _build_record,
        read_warc,
        write_warc,
    )

    for i, body in [(0, b""), (42, "texte é中".encode())]:
        rec = _build_record(
            "conversion",
            f"doc-{i}",
            f"http://corpus.example/doc/{i}",
            _WARC_DATE,
            body,
            http=False,
            ctype="text/plain",
        )
        assert len(rec) == (
            _WET_REC_CONST + 2 * len(str(i)) + len(str(len(body))) + len(body)
        )

    d = str(tmp_path / "wet")
    write_warc(
        _docs(spark), d, "doc_id", "text", num_files=2,
        compression="gzip", record_type="conversion",
    )
    rows = {
        int(r["record_id"].removeprefix("doc-")): r
        for r in read_warc(spark, d).collect()
    }
    assert len(rows) == 30
    for i in range(30):
        r = rows[i]
        assert r["warc_type"] == "conversion"
        assert r["content_type"] == "text/plain"
        assert r["http_status"] is None
        assert r["http_content_type"] is None
        assert r["body"] == f"body {i} with unicode é中 " + "x" * (i % 7)


def test_write_warc_rejects_bad_record_type(spark, tmp_path):
    import pytest as _pytest

    from whisper_pandas_spark.sources.warc import write_warc

    with _pytest.raises(ValueError):
        write_warc(
            _docs(spark, 3), str(tmp_path / "x"), "doc_id", "text",
            record_type="metadata",
        )


def test_whisper_stream_rides_through_empty_tree(spark, tmp_path):
    """Flake root-cause fix (found by the round-14 full-suite run): a
    LIVE tree can be momentarily EMPTY between two triggers (rmtree ->
    rewrite rotation). latestOffset already reported {} for that state
    but partitions() raised FileNotFoundError and killed the query.
    The stream must ride through the empty window as a no-data
    micro-batch and pick files up when they reappear."""
    import shutil

    from pyspark.sql import functions as FF

    from whisper_pandas_spark.sources.whisper import register_whisper
    from whisper_pandas_spark.sources.whisper_write import write_whisper

    register_whisper(spark)
    d = tmp_path / "tree"
    base = 1_599_999_960

    def batch(metric, lo, hi):
        return spark.createDataFrame(
            [(metric, base + 10 * i, float(i)) for i in range(lo, hi)],
            ["metric", "epoch", "value"],
        ).select(
            "metric", FF.timestamp_seconds("epoch").alias("timestamp"),
            "value",
        )

    write_whisper(batch("srv.cpu", 0, 10), str(d), archives="10:100", merge=True)
    sdf = (
        spark.readStream.format("whisper")
        .option("base_dir", str(d))
        .option("on_error", "skip")
        .load(str(d))
    )
    q = (
        sdf.writeStream.format("memory").queryName("wsp_empty_window")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("wsp_empty_window").count() == 10
        # the WHOLE tree vanishes (rotation window) — triggers must not
        # kill the query while it is empty
        shutil.rmtree(d)
        d.mkdir()
        q.processAllAvailable()
        assert q.isActive
        # files reappear -> new points flow
        write_whisper(
            batch("srv.disk", 0, 5), str(d), archives="10:100", merge=True
        )
        q.processAllAvailable()
        assert q.isActive
        metrics = {
            r["metric"] for r in spark.table("wsp_empty_window").collect()
        }
        assert metrics == {"srv.cpu", "srv.disk"}
    finally:
        q.stop()
