#!/usr/bin/env python
"""Multimodal decode throughput at scale (SCALE.md evidence).

Generates a synthetic PNG + WAV corpus as parquet (doc_id, payload) in a
temp dir, then measures `decode_image_stats` / `decode_audio_stats` wall
time on local[N] — encoded MB/s and decoded Mpx/s (Ms/s for audio).

Image mix: random (incompressible — worst-case inflate) and gradient
(compressible) pixels; scanline filters cycle None/Sub/Up (the decoder's
vectorized paths — rows filtered Average/Paeth fall back to per-pixel
Python, flagged in SCALE.md as the slow tail a real corpus would hit on
~40%% of rows).

Usage: python tools/decode_bench.py [n_images] [side_px]
"""

from __future__ import annotations

import struct
import sys
import zlib
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import best_of
from whisper_pandas_spark.functions.codecs import _PNG_MAGIC, _chunk, encode_wav


def _png_filters_012(img: np.ndarray) -> bytes:
    """PNG with per-row filter cycle None/Sub/Up — vectorized encode."""
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride)
    pieces = []
    prev = np.zeros(stride, dtype=np.uint8)
    for r in range(h):
        ft = r % 3
        cur = flat[r]
        if ft == 0:
            enc = cur
        elif ft == 1:  # Sub = per-channel diff
            px = cur.reshape(w, c).astype(np.int16)
            enc = np.concatenate([px[:1], (px[1:] - px[:-1]) & 0xFF]).astype(
                np.uint8
            ).reshape(-1)
        else:  # Up
            enc = ((cur.astype(np.int16) - prev) & 0xFF).astype(np.uint8)
        pieces.append(bytes([ft]) + enc.tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(pieces), 1))
        + _chunk(b"IEND", b"")
    )


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    side = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    tmp = Path(tempfile.mkdtemp(prefix="decode_bench_"))

    rows_id, rows_payload = [], []
    img_bytes = 0
    for i in range(n_images):
        if i % 2 == 0:
            img = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
        else:  # compressible gradient + noise
            g = (np.arange(side * side).reshape(side, side) % 256).astype(np.uint8)
            img = np.stack([g, g.T, (g + g.T)], axis=2).astype(np.uint8)
        p = _png_filters_012(img)
        rows_id.append(i)
        rows_payload.append(p)
        img_bytes += len(p)
    pq.write_table(
        pa.table({"doc_id": pa.array(rows_id, pa.int64()),
                  "payload": pa.array(rows_payload, pa.binary())}),
        tmp / "images.parquet",
    )

    wav_rows, wav_bytes = [], 0
    n_wavs = max(n_images // 4, 1)
    for i in range(n_wavs):
        s = rng.integers(-20000, 20000, size=(16000, 2)).astype(np.int16)  # 1 s stereo
        p = encode_wav(s, 16000)
        wav_rows.append((i, p))
        wav_bytes += len(p)
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in wav_rows], pa.int64()),
                  "payload": pa.array([r[1] for r in wav_rows], pa.binary())}),
        tmp / "audio.parquet",
    )

    from whisper_pandas_spark.operators.multimodal import (
        decode_audio_stats,
        decode_image_stats,
    )
    from whisper_pandas_spark.session import get_spark

    spark = get_spark()
    spark.range(10).count()  # warm

    img_df = spark.read.parquet(str(tmp / "images.parquet")).repartition(64)
    n, walls = best_of(3, lambda: decode_image_stats(img_df, "doc_id").count())
    best = min(walls)
    px = n_images * side * side
    print(
        f"images: {n} decoded of {n_images}, {img_bytes/1e6:.1f} MB encoded, "
        f"best {best:.2f} s -> {img_bytes/1e6/best:.0f} MB/s encoded, "
        f"{px/1e6/best:.0f} Mpx/s"
    )

    # JPEG: entropy decode is a sequential Python bit walk (the other
    # codecs inflate/IDCT vectorized), so it is the slowest decoder —
    # measured separately so SCALE.md can state the per-core budget.
    from whisper_pandas_spark.functions.jpeg import encode_jpeg

    n_jpegs = max(n_images // 8, 8)
    jr_id, jr_payload, jpeg_bytes = [], [], 0
    for i in range(n_jpegs):
        g = (np.arange(side * side).reshape(side, side) % 256).astype(np.uint8)
        img = np.stack([g, g.T, (g + g.T)], axis=2).astype(np.uint8)
        if i % 2:
            img = rng.integers(0, 256, size=(side, side, 3), dtype=np.uint8)
        p = encode_jpeg(img, quality=85, subsample=bool(i % 2))
        jr_id.append(i)
        jr_payload.append(p)
        jpeg_bytes += len(p)
    pq.write_table(
        pa.table({"doc_id": pa.array(jr_id, pa.int64()),
                  "payload": pa.array(jr_payload, pa.binary())}),
        tmp / "jpegs.parquet",
    )
    jpg_df = spark.read.parquet(str(tmp / "jpegs.parquet")).repartition(32)
    n, walls = best_of(3, lambda: decode_image_stats(jpg_df, "doc_id").count())
    best = min(walls)
    px = n_jpegs * side * side
    print(
        f"jpegs: {n} decoded of {n_jpegs}, {jpeg_bytes/1e6:.1f} MB encoded, "
        f"best {best:.2f} s -> {jpeg_bytes/1e6/best:.1f} MB/s encoded, "
        f"{px/1e6/best:.1f} Mpx/s"
    )

    wav_df = spark.read.parquet(str(tmp / "audio.parquet")).repartition(32)
    n, walls = best_of(3, lambda: decode_audio_stats(wav_df, "doc_id").count())
    best = min(walls)
    samples = n_wavs * 16000 * 2
    print(
        f"audio: {n} decoded of {n_wavs}, {wav_bytes/1e6:.1f} MB encoded, "
        f"best {best:.2f} s -> {wav_bytes/1e6/best:.0f} MB/s encoded, "
        f"{samples/1e6/best:.1f} Msamples/s"
    )

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
