"""Pure-stdlib codec correctness (functions/codecs.py): PNG round-trips
and hand-built filter streams, BMP 24-bit + palette, binary PNM, GIF
(independent dictionary-growing LZW streams, interlace, multi-frame),
WAV (PCM / float32 / G.711) and AIFF — plus the Spark
decode_image_stats / decode_audio_stats / decode_frame_stats operators
over mixed clean/corrupt/unsupported payload columns."""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pytest

from whisper_pandas_spark.functions.codecs import (
    CodecError,
    _PNG_MAGIC,
    _chunk,
    _paeth,
    decode_bmp,
    decode_image,
    decode_png,
    decode_pnm,
    decode_wav,
    encode_png,
    encode_wav,
)


def _png_with_filters(img: np.ndarray, ftypes: list[int]) -> bytes:
    """Independent PNG encoder applying a chosen per-row filter cycle —
    exercises the decoder's Sub/Up/Average/Paeth reconstruction paths,
    which the filter-0-only encode_png cannot."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    raws = []
    for r in range(h):
        ft = ftypes[r % len(ftypes)]
        cur = flat[r]
        enc = cur.copy()
        if ft == 1:
            for i in range(stride - 1, c - 1, -1):
                enc[i] = (cur[i] - cur[i - c]) & 0xFF
        elif ft == 2:
            enc = (cur - prev) & 0xFF
        elif ft == 3:
            for i in range(stride):
                left = cur[i - c] if i >= c else 0
                enc[i] = (cur[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                left = cur[i - c] if i >= c else 0
                ul = prev[i - c] if i >= c else 0
                enc[i] = (cur[i] - _paeth(int(left), int(prev[i]), int(ul))) & 0xFF
        raws.append(bytes([ft]) + enc.astype(np.uint8).tobytes())
        prev = cur
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + _chunk(b"IEND", b"")
    )


def _bmp24(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    row = (w * 3 + 3) & ~3
    pix = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        line = img[r][:, ::-1].tobytes()  # RGB -> BGR
        pix += line + b"\x00" * (row - len(line))
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    off = 14 + 40
    return b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off) + info + bytes(pix)


def _bmp8(idx: np.ndarray, pal: list[tuple[int, int, int]]) -> bytes:
    h, w = idx.shape
    row = (w + 3) & ~3
    pix = bytearray()
    for r in range(h - 1, -1, -1):
        pix += idx[r].tobytes() + b"\x00" * (row - w)
    paltab = b"".join(bytes([b, g, rc, 0]) for rc, g, b in pal)
    off = 14 + 40 + len(paltab)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(pix), 0, 0, len(pal), 0
    )
    return (
        b"BM"
        + struct.pack("<IHHI", off + len(pix), 0, 0, off)
        + info
        + paltab
        + bytes(pix)
    )


# -- pure decoders ---------------------------------------------------------


def test_png_roundtrip_all_channel_counts():
    rng = np.random.default_rng(7)
    for shape in [(5, 7), (5, 7, 1), (4, 6, 2), (3, 9, 3), (8, 8, 4)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        ref = img if img.ndim == 3 else img[:, :, None]
        h, w, c, out = decode_image(encode_png(img))
        assert (h, w, c) == ref.shape
        assert (out == ref).all()


def test_png_all_filter_types_reconstruct():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    for fts in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        h, w, c, out = decode_png(_png_with_filters(img, fts))
        assert (out == img).all(), fts


def test_png_palette_resolves_to_rgb():
    pal = np.array([[250, 1, 2], [3, 240, 5], [6, 7, 230]], dtype=np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))
    data = (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    h, w, c, out = decode_png(data)
    assert (h, w, c) == (2, 3, 3)
    assert (out == pal[idx]).all()


def test_png_malformed_variants_raise_codec_error():
    img = np.zeros((2, 2), dtype=np.uint8)
    good = encode_png(img)
    for bad in (
        b"",
        b"\x89PNG\r\n\x1a\n",          # magic only, no chunks
        good[: 8 + 25 + 10],            # truncated mid-IDAT
        good.replace(b"\x08\x00", b"\x10\x00", 1),  # 16-bit depth
    ):
        with pytest.raises(CodecError):
            decode_png(bad)


def test_bmp24_bottom_up_with_padding():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # row pad 3->12
    h, w, c, out = decode_bmp(_bmp24(img))
    assert (h, w, c) == (5, 3, 3)
    assert (out == img).all()


def test_bmp8_palette():
    rng = np.random.default_rng(6)
    pal = [(10, 20, 30), (200, 100, 50), (0, 0, 0), (255, 255, 255)]
    idx = rng.integers(0, 4, size=(4, 5)).astype(np.uint8)
    h, w, c, out = decode_bmp(_bmp8(idx, pal))
    assert (out == np.array(pal, dtype=np.uint8)[idx]).all()


def test_bmp_rejects_compressed_and_truncated():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = _bmp24(img)
    with pytest.raises(CodecError):
        decode_bmp(good[:40])
    rle = bytearray(good)
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8
    with pytest.raises(CodecError):
        decode_bmp(bytes(rle))


def test_pnm_p5_p6_with_comments():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    h, w, c, out = decode_pnm(b"P6\n# cmt\n6 4\n255\n" + img.tobytes())
    assert (h, w, c) == (4, 6, 3) and (out == img).all()
    g = rng.integers(0, 256, size=(3, 5), dtype=np.uint8)
    h, w, c, out = decode_pnm(b"P5 5 3 255 " + g.tobytes())
    assert (h, w, c) == (3, 5, 1) and (out[:, :, 0] == g).all()
    with pytest.raises(CodecError):
        decode_pnm(b"P6 2 2 255 " + b"\x00" * 5)  # short pixels


def test_wav_roundtrip_16bit_stereo_and_8bit_rescale():
    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=(100, 2)).astype(np.int16)
    rate, ch, out = decode_wav(encode_wav(s, 8000))
    assert (rate, ch) == (8000, 2) and (out == s).all()

    raw8 = rng.integers(0, 256, size=50, dtype=np.uint8)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(raw8)) + raw8.tobytes()
    )
    rate, ch, out = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (out[:, 0] == ((raw8.astype(np.int16) - 128) << 8)).all()

    with pytest.raises(CodecError):
        decode_wav(b"RIFFxxxxWAVE")  # no fmt/data
    nonpcm = bytearray(encode_wav(s, 8000))
    struct.pack_into("<H", nonpcm, 20, 3)  # IEEE float format tag
    with pytest.raises(CodecError):
        decode_wav(bytes(nonpcm))


# -- Spark operators -------------------------------------------------------


def test_decode_image_stats_mixed_payloads(spark):
    """PNG + BMP + PNM in one binary column; corrupt rows are skipped
    (on_error=skip), nulled (on_error=null), or fail the task."""
    from whisper_pandas_spark.operators.multimodal import decode_image_stats

    rng = np.random.default_rng(21)
    png = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    bmp = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(2, 7), dtype=np.uint8)
    rows = [
        (0, encode_png(png)),
        (1, _bmp24(bmp)),
        (2, b"P5 7 2 255 " + gray.tobytes()),
        (3, b"\xff\xd8\xff\xe0 jpeg"),       # truncated JPEG
        (4, b"garbage bytes"),                # unrecognised
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got = {r["doc_id"]: r for r in decode_image_stats(df, "doc_id").collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0]["height"], got[0]["width"], got[0]["channels"]) == (6, 4, 3)
    assert got[0]["mean_px"] == pytest.approx(float(png.mean()))
    assert got[0]["px_md5"] == hashlib.md5(png.tobytes()).hexdigest()
    assert (got[1]["height"], got[1]["width"]) == (3, 5)
    assert got[1]["px_md5"] == hashlib.md5(bmp.tobytes()).hexdigest()
    assert got[2]["channels"] == 1
    assert got[2]["mean_px"] == pytest.approx(float(gray.mean()))

    nulled = {
        r["doc_id"]: r
        for r in decode_image_stats(df, "doc_id", on_error="null").collect()
    }
    assert set(nulled) == {0, 1, 2, 3, 4}
    assert nulled[3]["height"] is None and nulled[3]["px_md5"] is None
    assert nulled[0]["px_md5"] == got[0]["px_md5"]

    with pytest.raises(Exception):
        decode_image_stats(df, "doc_id", on_error="fail").collect()
    with pytest.raises(ValueError):
        decode_image_stats(df, "doc_id", on_error="bogus")


def test_decode_audio_stats(spark):
    from whisper_pandas_spark.operators.multimodal import decode_audio_stats

    rng = np.random.default_rng(22)
    mono = rng.integers(-2000, 2000, size=160).astype(np.int16)
    stereo = rng.integers(-32768, 32768, size=(50, 2)).astype(np.int16)
    rows = [
        (0, encode_wav(mono, 16000)),
        (1, encode_wav(stereo, 8000)),
        (2, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_audio_stats(df, "doc_id").collect()}
    assert set(got) == {0, 1}
    assert (got[0]["sample_rate"], got[0]["channels"]) == (16000, 1)
    assert got[0]["n_samples"] == 160
    assert got[0]["duration_s"] == pytest.approx(0.01)
    assert got[0]["rms"] == pytest.approx(
        float(np.sqrt(np.mean(np.square(mono.astype(np.float64)))))
    )
    assert (got[1]["sample_rate"], got[1]["channels"]) == (8000, 2)
    assert got[1]["rms"] == pytest.approx(
        float(np.sqrt(np.mean(np.square(stereo.astype(np.float64)))))
    )


def test_decode_stats_tolerate_null_payloads(spark):
    """A NULL binary cell must follow the on_error contract, not
    TypeError-crash the Arrow task."""
    from whisper_pandas_spark.operators.multimodal import (
        decode_audio_stats,
        decode_image_stats,
    )

    img = encode_png(np.zeros((2, 2), dtype=np.uint8))
    df = spark.createDataFrame(
        [(0, img), (1, None)], "doc_id long, payload binary"
    )
    assert [r["doc_id"] for r in decode_image_stats(df, "doc_id").collect()] == [0]
    nulled = {r["doc_id"]: r for r in
              decode_image_stats(df, "doc_id", on_error="null").collect()}
    assert nulled[1]["px_md5"] is None
    wav = encode_wav(np.zeros(10, dtype=np.int16))
    adf = spark.createDataFrame(
        [(0, wav), (1, None)], "doc_id long, payload binary"
    )
    assert [r["doc_id"] for r in decode_audio_stats(adf, "doc_id").collect()] == [0]


def test_codecs_reject_review_payloads():
    """The hostile payloads the round-5 review found escaping as
    struct.error / bare ValueError must raise CodecError."""
    import struct as _s

    from whisper_pandas_spark.functions.codecs import decode_bmp, decode_png

    # IHDR declaring a 5-byte body
    short_ihdr = (
        _PNG_MAGIC + _chunk(b"IHDR", b"\x00" * 5) + _chunk(b"IEND", b"")
    )
    with pytest.raises(CodecError):
        decode_png(short_ihdr)
    # PLTE not a multiple of 3
    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    bad_plte = (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", b"\x00" * 4)
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00" * 2))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(CodecError):
        decode_png(bad_plte)
    # BMP with negative width
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    neg = bytearray(_bmp24(img))
    _s.pack_into("<i", neg, 18, -2)
    with pytest.raises(CodecError):
        decode_bmp(bytes(neg))


# -- GIF -------------------------------------------------------------------


def _lzw_compress(min_code: int, pixels: bytes) -> bytes:
    """Independent REAL GIF-LZW compressor (dictionary growth, width
    growth, clear only at start) — exercises the decoder's table-build
    and KwKwK paths that the repo's clear-per-symbol encoder never hits."""
    clear = 1 << min_code
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code + 1
    out_codes = [clear]
    run = b""
    for px in pixels:
        cand = run + bytes([px])
        if cand in table:
            run = cand
        else:
            out_codes.append(table[run])
            if next_code < 4096:
                table[cand] = next_code
                next_code += 1
            run = bytes([px])
    if run:
        out_codes.append(table[run])
    out_codes.append(eoi)
    # pack LSB-first with width growth mirroring the decoder's schedule:
    # the decoder adds NO entry for the first data code after a clear,
    # then one entry per subsequent code, widening at next_code == 2^w
    acc = nbits = 0
    stream = bytearray()
    wtrack = min_code + 1
    ntrack = eoi + 1
    first = True
    for code in out_codes:
        acc |= code << nbits
        nbits += wtrack
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            wtrack, ntrack, first = min_code + 1, eoi + 1, True
        elif code != eoi:
            if first:
                first = False
            elif ntrack < 4096:
                ntrack += 1
                if ntrack == (1 << wtrack) and wtrack < 12:
                    wtrack += 1
    if nbits:
        stream.append(acc & 0xFF)
    return bytes(stream)


def _gif_single(idx: np.ndarray, pal: np.ndarray, interlace=False, compressed=True) -> bytes:
    """Hand-built one-frame GIF using the independent compressor."""
    h, w = idx.shape
    n = len(pal)
    depth = max(n.bit_length() - 1, 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += np.asarray(pal, dtype=np.uint8).tobytes()
    iflags = 0x40 if interlace else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    rows = idx
    if interlace:  # store rows in pass order
        order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, h, step)]
        rows = idx[order]
    min_code = max(depth, 2)
    stream = _lzw_compress(min_code, rows.reshape(-1).tobytes())
    out += bytes([min_code])
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_real_lzw_roundtrip_with_dictionary_growth():
    from whisper_pandas_spark.functions.codecs import decode_gif

    rng = np.random.default_rng(31)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    # long runs force KwKwK and multi-width codes
    idx = np.repeat(rng.integers(0, 8, (40, 7), dtype=np.uint8), 5, axis=1)
    h, w, c, img = decode_gif(_gif_single(idx, pal))
    assert (h, w, c) == (40, 35, 3)
    assert (img == pal[idx]).all()


def test_gif_interlaced_rows_reassemble():
    from whisper_pandas_spark.functions.codecs import decode_gif

    pal = np.stack([np.arange(0, 256, 16)] * 3, axis=1).astype(np.uint8)
    idx = (np.arange(16)[:, None] % 16 * np.ones((1, 5))).astype(np.uint8)
    plain = decode_gif(_gif_single(idx, pal, interlace=False))[3]
    inter = decode_gif(_gif_single(idx, pal, interlace=True))[3]
    assert (plain == inter).all()
    assert (plain == pal[idx]).all()


def test_gif_multiframe_and_extension_blocks():
    from whisper_pandas_spark.functions.codecs import (
        decode_gif_frames,
        encode_gif,
    )

    rng = np.random.default_rng(32)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    f0 = rng.integers(0, 4, (6, 5), dtype=np.uint8)
    f1 = rng.integers(0, 4, (6, 5), dtype=np.uint8)
    data = bytearray(encode_gif([f0, f1], pal))
    # splice a graphics-control extension before the first image block
    at = data.index(0x2C)
    data[at:at] = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
    sw, sh, frames = decode_gif_frames(bytes(data))
    assert (sw, sh) == (5, 6) and len(frames) == 2
    assert (frames[0][4] == pal[f0]).all() and (frames[1][4] == pal[f1]).all()


def test_gif_malformed_variants_raise():
    from whisper_pandas_spark.functions.codecs import decode_gif, encode_gif

    rng = np.random.default_rng(33)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    data = encode_gif([rng.integers(0, 4, (5, 5), dtype=np.uint8)], pal)
    for bad in (
        b"GIF89a",                    # bare header
        data[: len(data) // 2],       # truncated mid-stream
        data[:13],                    # header without color table
        data.replace(b"\x2c", b"\x7f", 1),  # unknown block type
    ):
        with pytest.raises(CodecError):
            decode_gif(bad)


def test_decode_frame_stats_mixed_gif_and_single_frame(spark):
    from whisper_pandas_spark.functions.codecs import encode_gif
    from whisper_pandas_spark.operators.multimodal import decode_frame_stats

    rng = np.random.default_rng(34)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    frames = [rng.integers(0, 16, (4, 6), dtype=np.uint8) for _ in range(5)]
    png = rng.integers(0, 256, (3, 3, 3), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_gif(frames, pal))),
        (2, bytearray(encode_png(png))),
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = decode_frame_stats(df, "doc_id").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    assert [r["frame_idx"] for r in sorted(by_doc[1], key=lambda r: r["frame_idx"])] == [0, 1, 2, 3, 4]
    assert all((r["height"], r["width"]) == (4, 6) for r in by_doc[1])
    assert by_doc[1][0]["mean_px"] == pytest.approx(float(pal[frames[0]].mean()))
    assert (by_doc[2][0]["height"], by_doc[2][0]["width"]) == (3, 3)
    # every=2 keeps frames 0, 2, 4
    sampled = decode_frame_stats(df.where("doc_id = 1"), "doc_id", every=2).collect()
    assert sorted(r["frame_idx"] for r in sampled) == [0, 2, 4]


# -- extended audio: float32 / G.711 / AIFF --------------------------------


def _wav_with_fmt(fmt_tag: int, bits: int, payload: bytes, rate=8000, ch=1) -> bytes:
    block = max(bits // 8 * ch, 1)
    fmt = struct.pack("<HHIIHH", fmt_tag, ch, rate, rate * block, block, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_float32_clips_and_scales():
    f = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 2.0, -2.0], dtype="<f4")
    rate, ch, out = decode_wav(_wav_with_fmt(3, 32, f.tobytes()))
    expect = [0, 16384, -16384, 32767, -32767, 32767, -32767]
    assert out[:, 0].tolist() == expect


def test_wav_g711_mulaw_and_alaw_reference_points():
    from whisper_pandas_spark.functions.codecs import _alaw_to_int16, _mulaw_to_int16

    # mu-law reference points from the ITU expansion (Sun g711.c values):
    # 0xFF -> 0, 0x7F -> -0 (negative zero = 0), 0x80 -> -32124, 0x00 -> +... 
    mu = _mulaw_to_int16(np.array([0xFF, 0x7F, 0x00, 0x80], dtype=np.uint8))
    assert mu[0] == 0 and mu[1] == 0
    assert abs(int(mu[2])) == 32124 and abs(int(mu[3])) == 32124
    assert int(mu[2]) == -int(mu[3])
    # A-law: 0x55 -> magnitude 8 (the smallest), full-scale at 0x2A/0xAA
    al = _alaw_to_int16(np.array([0x55, 0xD5, 0x2A, 0xAA], dtype=np.uint8))
    assert abs(int(al[0])) == 8 and abs(int(al[1])) == 8
    assert int(al[0]) == -int(al[1])
    assert abs(int(al[2])) == 32256 and abs(int(al[3])) == 32256
    # monotonicity within one segment: larger mantissa -> larger magnitude
    seg = _mulaw_to_int16(np.array([0xFE, 0xFD, 0xFC], dtype=np.uint8))
    assert seg[0] < seg[1] < seg[2]
    # via the WAV container (format tags 7 and 6); after the complement,
    # encoded 0x80 carries a CLEAR sign bit -> positive full scale, and
    # 0x00 the set sign bit -> negative full scale (g711 mask semantics)
    rate, ch, out = decode_wav(_wav_with_fmt(7, 8, bytes([0xFF, 0x80, 0x00])))
    assert out[0, 0] == 0 and out[1, 0] == 32124 and out[2, 0] == -32124
    rate, ch, out = decode_wav(_wav_with_fmt(6, 8, bytes([0x55, 0x2A])))
    assert abs(int(out[0, 0])) == 8 and abs(int(out[1, 0])) == 32256


def _aiff(samples: np.ndarray, rate_bytes: bytes, bits=16, ch=None) -> bytes:
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if bits == 16:
        pcm = samples.astype(">i2").tobytes()
    else:
        pcm = samples.astype(np.int8).tobytes()
    comm = struct.pack(">hIh", ch, n, bits) + rate_bytes
    ssnd = struct.pack(">II", 0, 0) + pcm
    body = b"AIFF"
    body += b"COMM" + struct.pack(">I", len(comm)) + comm
    body += b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    return b"FORM" + struct.pack(">I", len(body)) + body


def _ext80(x: float) -> bytes:
    import math

    m, e = math.frexp(x)  # x = m * 2^e, m in [0.5, 1)
    mant = int(m * (1 << 64))
    return struct.pack(">H", e - 1 + 16383) + mant.to_bytes(8, "big")


def test_aiff_16bit_stereo_and_8bit_signed():
    from whisper_pandas_spark.functions.codecs import decode_aiff, decode_audio

    rng = np.random.default_rng(41)
    s = rng.integers(-32768, 32768, size=(64, 2)).astype(np.int16)
    rate, ch, out = decode_aiff(_aiff(s, _ext80(44100.0)))
    assert (rate, ch) == (44100, 2)
    assert (out == s).all()
    s8 = rng.integers(-128, 128, size=32).astype(np.int8)
    rate, ch, out = decode_audio(_aiff(s8.astype(np.int16)[:, None], _ext80(8000.0), bits=8))
    assert (rate, ch) == (8000, 1)
    assert (out[:, 0] == (s8.astype(np.int16) << 8)).all()


def test_aiff_malformed_raise():
    from whisper_pandas_spark.functions.codecs import decode_aiff, decode_audio

    s = np.zeros((4, 1), dtype=np.int16)
    good = _aiff(s, _ext80(8000.0))
    with pytest.raises(CodecError):
        decode_aiff(b"FORM\x00\x00\x00\x04AIFC")  # AIFC unsupported
    with pytest.raises(CodecError):
        decode_aiff(good[:20])  # missing SSND
    bad_rate = _aiff(s, struct.pack(">H", 0x7FFF) + b"\x80" + b"\x00" * 7)
    with pytest.raises(CodecError):
        decode_aiff(bad_rate)  # non-finite extended rate
    with pytest.raises(CodecError):
        decode_audio(b"not audio at all")


def test_decode_audio_stats_mixed_wav_aiff_g711(spark):
    from whisper_pandas_spark.operators.multimodal import decode_audio_stats

    rng = np.random.default_rng(42)
    s = rng.integers(-30000, 30000, size=(8000, 1)).astype(np.int16)
    rows = [
        (1, bytearray(encode_wav(s, 8000))),
        (2, bytearray(_aiff(s, _ext80(8000.0)))),
        (3, bytearray(_wav_with_fmt(7, 8, bytes([0xFF] * 4000)))),  # mu-law silence
        (4, bytearray(b"junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_audio_stats(df, "doc_id").collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_samples"] == 8000 and got[1]["sample_rate"] == 8000
    # WAV and AIFF carry the same PCM -> identical rms
    assert got[1]["rms"] == pytest.approx(got[2]["rms"])
    assert got[3]["rms"] == pytest.approx(0.0)
    assert got[3]["duration_s"] == pytest.approx(0.5)


def test_gif_bad_lzw_min_code_size_is_codec_error_not_crash():
    from whisper_pandas_spark.functions.codecs import decode_gif, encode_gif

    pal = np.zeros((4, 3), dtype=np.uint8)
    data = bytearray(encode_gif([np.zeros((3, 3), dtype=np.uint8)], pal))
    at = data.index(0x2C)  # image descriptor; min code byte is 10 later
    data[at + 10] = 9
    with pytest.raises(CodecError):
        decode_gif(bytes(data))


def test_gif_container_level_frame_sampling():
    from whisper_pandas_spark.functions.codecs import decode_gif_frames, encode_gif

    rng = np.random.default_rng(61)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [rng.integers(0, 8, (4, 4), dtype=np.uint8) for _ in range(7)]
    data = encode_gif(frames, pal)
    _, _, full = decode_gif_frames(data)
    _, _, sampled = decode_gif_frames(data, every=3)
    assert len(sampled) == 3  # frames 0, 3, 6
    for j, orig in enumerate((0, 3, 6)):
        assert (sampled[j][4] == full[orig][4]).all()
    with pytest.raises(ValueError):
        decode_gif_frames(data, every=0)


def test_wav_float32_nan_inf_sanitized():
    f = np.array([np.nan, np.inf, -np.inf, 0.25], dtype="<f4")
    rate, ch, out = decode_wav(_wav_with_fmt(3, 32, f.tobytes()))
    assert out[:, 0].tolist() == [0, 32767, -32767, 8192]


def _png_raw(w, h, depth, ctype_, raw, palette=None, interlace=0):
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype_, 0, 0, interlace)
    out = _PNG_MAGIC + _chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _chunk(b"PLTE", palette.tobytes())
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def test_png_16bit_reduces_high_byte():
    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    px16 = ((hi.astype(np.uint16) << 8) | lo).astype(">u2")
    raw = b"".join(b"\x00" + px16[r].tobytes() for r in range(4))
    h, w, c, out = decode_png(_png_raw(3, 4, 16, 2, raw))
    assert (h, w, c) == (4, 3, 3)
    assert (out == hi).all()
    # 16-bit grayscale with Sub filter (bpp = 2: the byte-lane offset)
    g16 = (np.arange(12, dtype=">u2") * 5000 % 65536).astype(">u2").reshape(4, 3)
    flat = np.frombuffer(g16.tobytes(), dtype=np.uint8).reshape(4, 6)
    rows = []
    for r in range(4):
        enc = flat[r].astype(np.int32).copy()
        for i in range(5, 1, -1):
            enc[i] = (int(flat[r][i]) - int(flat[r][i - 2])) & 0xFF
        rows.append(b"\x01" + enc.astype(np.uint8).tobytes())
    h, w, c, out = decode_png(_png_raw(3, 4, 16, 0, b"".join(rows)))
    assert (out[:, :, 0] == (g16.astype(np.uint16) >> 8).astype(np.uint8)).all()


def test_png_subbyte_gray_and_palette():
    # 1-bit gray: checkerboard expands to 0/255
    bits = np.array([[1, 0, 1, 0, 1], [0, 1, 0, 1, 0]], dtype=np.uint8)
    raw = b"".join(
        b"\x00" + np.packbits(bits[r]).tobytes() for r in range(2)
    )
    h, w, c, out = decode_png(_png_raw(5, 2, 1, 0, raw))
    assert (h, w, c) == (2, 5, 1)
    assert (out[:, :, 0] == bits * 255).all()
    # 4-bit gray scales by 17
    nib = np.array([[0, 5, 10, 15], [15, 10, 5, 0]], dtype=np.uint8)
    raw4 = b"".join(
        b"\x00" + bytes([nib[r, 0] << 4 | nib[r, 1], nib[r, 2] << 4 | nib[r, 3]])
        for r in range(2)
    )
    h, w, c, out = decode_png(_png_raw(4, 2, 4, 0, raw4))
    assert (out[:, :, 0] == nib * 17).all()
    # 2-bit palette
    pal = np.array(
        [[250, 0, 0], [0, 240, 0], [0, 0, 230], [9, 9, 9]], dtype=np.uint8
    )
    idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 3]], dtype=np.uint8)
    raw2 = b"".join(
        b"\x00"
        + bytes(
            [
                idx[r, 0] << 6 | idx[r, 1] << 4 | idx[r, 2] << 2 | idx[r, 3],
                idx[r, 4] << 6,
            ]
        )
        for r in range(2)
    )
    h, w, c, out = decode_png(_png_raw(5, 2, 2, 3, raw2, palette=pal))
    assert (h, w, c) == (2, 5, 3)
    assert (out == pal[idx]).all()


def _adam7_passes(w, h):
    grid = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    for x0, y0, dx, dy in grid:
        pw = -(-(w - x0) // dx) if w > x0 else 0
        ph = -(-(h - y0) // dy) if h > y0 else 0
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def test_png_adam7_interlaced_roundtrip():
    """Hand-built Adam7 stream (filter 0 per pass row) reconstructs the
    source exactly, including non-multiple-of-8 dimensions where late
    passes dominate."""
    rng = np.random.default_rng(9)
    for shape in ((13, 11, 3), (8, 8, 1), (3, 5, 4), (1, 1, 1), (2, 9, 2)):
        hh, ww, cc = shape
        ct = {1: 0, 2: 4, 3: 2, 4: 6}[cc]
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        raw = bytearray()
        for x0, y0, dx, dy, pw, ph in _adam7_passes(ww, hh):
            sub = img[y0::dy, x0::dx]
            assert sub.shape[:2] == (ph, pw)
            for r in range(ph):
                raw += b"\x00" + sub[r].tobytes()
        h, w, c, out = decode_png(_png_raw(ww, hh, 8, ct, bytes(raw), interlace=1))
        assert (h, w, c) == (hh, ww, cc)
        assert (out == img).all(), shape


def test_png_adam7_16bit_and_size_mismatch():
    img = (np.arange(60, dtype=">u2") * 1000 % 65536).astype(">u2").reshape(6, 10)
    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _adam7_passes(10, 6):
        sub = img[y0::dy, x0::dx]
        for r in range(ph):
            raw += b"\x00" + sub[r].tobytes()
    h, w, c, out = decode_png(_png_raw(10, 6, 16, 0, bytes(raw), interlace=1))
    assert (out[:, :, 0] == (img.astype(np.uint16) >> 8).astype(np.uint8)).all()
    # short interlaced stream -> size mismatch, CodecError
    with pytest.raises(CodecError):
        decode_png(_png_raw(10, 6, 16, 0, bytes(raw[:-7]), interlace=1))
    # invalid depth/color combos still raise
    with pytest.raises(CodecError):
        decode_png(_png_raw(2, 2, 2, 2, b"\x00\x00\x00"))
    with pytest.raises(CodecError):
        decode_png(_png_raw(2, 2, 16, 3, b"\x00\x00\x00"))


# -- TIFF --------------------------------------------------------------------


def test_tiff_roundtrip_matrix():
    """encode_tiff -> decode_tiff bit-parity across gray/RGB, strip
    sizes, compression (none / TIFF-LZW / PackBits) and the horizontal
    predictor — including sizes that cross the 9->10-bit LZW width
    boundary where the decoder's early change must stay in sync."""
    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_tiff, encode_tiff

    rng = np.random.default_rng(3)
    for shape in [(1, 1), (7, 5), (16, 16), (33, 31), (64, 64)]:
        for ch in (1, 3):
            img = rng.integers(0, 256, size=(*shape, ch), dtype=np.uint8)
            for comp in ("none", "lzw", "packbits"):
                for pred in (1, 2):
                    if pred == 2 and comp == "none":
                        continue
                    for rps in (None, 5):
                        h, w, c, out = decode_tiff(
                            encode_tiff(img, comp, pred, rps)
                        )
                        assert (h, w, c) == (*shape, ch)
                        assert np.array_equal(out, img), (shape, ch, comp, pred, rps)


def test_tiff_lzw_width_boundaries_and_reset():
    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    rng = np.random.default_rng(9)
    for n in [1, 2, 253, 254, 255, 256, 509, 1021, 2040, 5000, 20000]:
        raw = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert bytes(_tiff_lzw_decode(_tiff_lzw_encode(raw), n)) == raw, n
    # low entropy drives long dictionary strings + 12-bit codes
    raw = bytes(np.tile(np.arange(16, dtype=np.uint8), 4000))
    assert bytes(_tiff_lzw_decode(_tiff_lzw_encode(raw), len(raw))) == raw


def test_tiff_big_endian_white_is_zero_and_palette():
    """Hand-built MM (big-endian) stream with photometric 0 inverts to
    the luminance convention; hand-built palette TIFF maps through the
    16-bit ColorMap's high bytes."""
    import struct

    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_image, decode_tiff

    def be_tiff(photometric, pixels, extra_entries=b"", n_extra=0, tail=b""):
        # gray 2x2, one strip, uncompressed, big-endian
        n = 8 + n_extra
        ifd = struct.pack(">H", n)
        strip_off = 8 + 2 + 12 * n + 4 + len(tail)

        def ent(tag, typ, count, val):
            return struct.pack(">HHI", tag, typ, count) + val

        ifd += ent(256, 3, 1, struct.pack(">HH", 2, 0))
        ifd += ent(257, 3, 1, struct.pack(">HH", 2, 0))
        ifd += ent(258, 3, 1, struct.pack(">HH", 8, 0))
        ifd += ent(259, 3, 1, struct.pack(">HH", 1, 0))
        ifd += ent(262, 3, 1, struct.pack(">HH", photometric, 0))
        ifd += ent(273, 4, 1, struct.pack(">I", strip_off))
        ifd += ent(278, 3, 1, struct.pack(">HH", 2, 0))
        ifd += ent(279, 4, 1, struct.pack(">I", 4))
        ifd += extra_entries
        return (
            b"MM\x00*" + struct.pack(">I", 8) + ifd + struct.pack(">I", 0)
            + tail + pixels
        )

    h, w, c, img = decode_tiff(be_tiff(1, bytes([0, 64, 128, 255])))
    assert (h, w, c) == (2, 2, 1)
    assert img.ravel().tolist() == [0, 64, 128, 255]
    # WhiteIsZero inverts
    _, _, _, inv = decode_tiff(be_tiff(0, bytes([0, 64, 128, 255])))
    assert inv.ravel().tolist() == [255, 191, 127, 0]
    # palette: ColorMap red plane = index<<8, others 0 -> R == index
    cmap = struct.pack(">256H", *[i << 8 for i in range(256)])
    cmap += struct.pack(">256H", *([0] * 256)) * 2
    ent = struct.pack(">HHI", 320, 3, 768) + struct.pack(
        ">I", 8 + 2 + 12 * 9 + 4
    )
    _, _, c, pal = decode_tiff(
        be_tiff(3, bytes([1, 2, 3, 4]), extra_entries=ent, n_extra=1, tail=cmap)
    )
    assert c == 3
    assert pal[:, :, 0].ravel().tolist() == [1, 2, 3, 4]
    assert pal[:, :, 1].max() == 0
    # dispatch by magic
    h2, _, _, _ = decode_image(be_tiff(1, bytes([9, 9, 9, 9])))
    assert h2 == 2


def test_tiff_rejections():
    import struct

    import numpy as np
    import pytest

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_tiff,
        encode_tiff,
    )

    img = np.zeros((4, 4), dtype=np.uint8)
    good = encode_tiff(img)

    with pytest.raises(CodecError, match="not a TIFF"):
        decode_tiff(b"II+\x00" + bytes(8))
    with pytest.raises(CodecError, match="truncated IFD"):
        decode_tiff(good[:9])
    # HALF-tiled layout (round 8 supports real tiles; a file with a
    # TileWidth tag but no tile offsets/counts is malformed, not
    # "unsupported"): patching the first entry (ImageWidth) to TileWidth
    # both drops a required tag and half-declares tiling — fails closed
    tiled = bytearray(good)
    tiled[10:12] = struct.pack("<H", 322)
    with pytest.raises(CodecError):
        decode_tiff(bytes(tiled))
    # fully-tagged tiled file with MISSING offsets/counts: strip a real
    # tiled encoding of its TileOffsets entry by re-tagging it to junk
    tgood = bytearray(
        encode_tiff(np.zeros((9, 9), dtype=np.uint8), tile=(8, 8))
    )
    nt = struct.unpack_from("<H", tgood, 8)[0]
    for e in range(nt):
        o = 10 + 12 * e
        if struct.unpack_from("<H", tgood, o)[0] == 324:
            tgood[o : o + 2] = struct.pack("<H", 60000)
    with pytest.raises(CodecError, match="segment offsets"):
        decode_tiff(bytes(tgood))
    # 16-bit DECLARED but 8-bit-sized data (round 8 decodes real
    # 16-bit; a lying BitsPerSample must fail the geometry check)
    b16 = bytearray(good)
    n = struct.unpack_from("<H", b16, 8)[0]
    for e in range(n):
        o = 10 + 12 * e
        if struct.unpack_from("<H", b16, o)[0] == 258:
            b16[o + 8 : o + 10] = struct.pack("<H", 16)
    with pytest.raises(CodecError, match="shorter than declared"):
        decode_tiff(bytes(b16))
    # 32-bit samples stay unsupported
    b32 = bytearray(good)
    for e in range(n):
        o = 10 + 12 * e
        if struct.unpack_from("<H", b32, o)[0] == 258:
            b32[o + 8 : o + 10] = struct.pack("<H", 32)
    with pytest.raises(CodecError, match="uniform 8/16"):
        decode_tiff(bytes(b32))
    # PlanarConfiguration=3 is out of spec
    bpl = bytearray(
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), planar=2)
    )
    n2 = struct.unpack_from("<H", bpl, 8)[0]
    for e in range(n2):
        o = 10 + 12 * e
        if struct.unpack_from("<H", bpl, o)[0] == 284:
            bpl[o + 8 : o + 10] = struct.pack("<H", 3)
    with pytest.raises(CodecError, match="PlanarConfiguration"):
        decode_tiff(bytes(bpl))
    # strip overruns file
    trunc = good[:-8]
    with pytest.raises(CodecError):
        decode_tiff(trunc)


def test_tiff_mutation_fuzz_fails_closed():
    """300 random single/multi-byte mutations of valid TIFFs: decode
    must either succeed or raise CodecError — never an unhandled
    IndexError/struct.error/ValueError (the tolerant-skip contract
    `on_error=skip` callers rely on)."""
    import random

    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(17)
    rnd = random.Random(17)
    bases = [
        encode_tiff(rng.integers(0, 256, (16, 16), dtype=np.uint8), "none"),
        encode_tiff(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8), "lzw", 2),
        encode_tiff(rng.integers(0, 256, (9, 7), dtype=np.uint8), "packbits"),
        # round-8 geometries: tiled, 16-bit, planar, big-endian
        encode_tiff(
            rng.integers(0, 256, (13, 11, 3), dtype=np.uint8),
            "lzw", 2, tile=(8, 8),
        ),
        encode_tiff(
            rng.integers(0, 65536, (10, 6), dtype=np.uint16),
            "packbits", bits=16, byteorder=">",
        ),
        encode_tiff(
            rng.integers(0, 65536, (8, 9, 3), dtype=np.uint16),
            "lzw", 2, bits=16, planar=2,
        ),
    ]
    for trial in range(300):
        data = bytearray(rnd.choice(bases))
        for _ in range(rnd.randint(1, 4)):
            data[rnd.randrange(len(data))] = rnd.randrange(256)
        if rnd.random() < 0.3:
            data = data[: rnd.randrange(1, len(data))]
        try:
            decode_tiff(bytes(data))
        except CodecError:
            pass  # the contract: malformed input fails CLOSED


def test_tiff_roundtrip_matrix_round8():
    """Round-8 geometry extension: tiled (incl. edge-cropped tiles),
    16-bit (native uint16 out, both byte orders), planar, and their
    combinations with LZW/PackBits and the per-segment predictor — all
    bit-exact through the encoder twin."""
    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_tiff, encode_tiff

    rng = np.random.default_rng(81)
    for shape in [(7, 5, 3), (16, 16, 1), (9, 13, 3)]:
        for bits in (8, 16):
            hi = 1 << bits
            dt = np.uint8 if bits == 8 else np.uint16
            img = rng.integers(0, hi, size=shape).astype(dt)
            for comp in ("none", "lzw", "packbits"):
                for pred in (1, 2):
                    for planar in (1, 2):
                        for tile in (None, (8, 8)):
                            for bo in ("<", ">"):
                                out = decode_tiff(
                                    encode_tiff(
                                        img, comp, pred,
                                        bits=bits, planar=planar,
                                        tile=tile, byteorder=bo,
                                    )
                                )[3]
                                assert out.dtype == dt
                                assert np.array_equal(out, img), (
                                    shape, bits, comp, pred, planar, tile, bo
                                )


def test_tiff_16bit_white_is_zero_and_planar_strips():
    """16-bit WhiteIsZero inverts against 65535; planar STRIP files
    (plane-major segment order) reassemble channels correctly even when
    strips split mid-plane."""
    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_tiff, encode_tiff

    img16 = np.array([[0, 1000], [30000, 65535]], dtype=np.uint16)
    data = bytearray(encode_tiff(img16, bits=16))
    # patch photometric (262) to 0 = WhiteIsZero
    import struct

    n = struct.unpack_from("<H", data, 8)[0]
    for e in range(n):
        o = 10 + 12 * e
        if struct.unpack_from("<H", data, o)[0] == 262:
            data[o + 8 : o + 10] = struct.pack("<H", 0)
    inv = decode_tiff(bytes(data))[3]
    assert inv.ravel().tolist() == [65535, 64535, 35535, 0]

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (10, 4, 3), dtype=np.uint8)
    out = decode_tiff(encode_tiff(rgb, "lzw", planar=2, rows_per_strip=3))[3]
    assert np.array_equal(out, rgb)
