"""Multimodal (binary) column operators (SURVEY.md §2.10 X5).

Design: image/audio/video payloads are opaque ``BinaryType`` columns with a
typed metadata struct alongside — the Spark-native shape for multimodal
training data (the same pattern as `spark.read.format("binaryFile")`,
which yields (path, modificationTime, length, content)).

The container has no codec LIBRARIES (no PIL/opencv/soundfile), but the
common container formats need nothing beyond zlib + struct + numpy, so
the decode step is REAL for PNG / BMP / PGM / PPM / GIF / baseline JPEG
images (`functions/codecs.py` + `functions/jpeg.py`: huffman entropy
decode, dequant, vectorized IDCT, chroma upsampling, LZW) and RIFF-PCM
WAV audio — no stubbed decode leaf remains; animated GIFs give the
frame-sampling ops real multi-frame containers (`decode_frame_stats`).
The feature head of record is
:func:`image_features` — real moments/gradient/orientation descriptors
over DECODED pixels (oracle-able through planted PGM payloads whose
pixel bytes SQL can enumerate); `fake_decode_features` remains as the
simplest byte-histogram teaching path (vectorized bincount).

Scale notes:
- metadata extraction (length/hash/magic sniff) is pure built-ins —
  codegen, no Python;
- feature extraction is mapInPandas over Arrow batches: payloads never
  round-trip through the driver and never inflate into Python objects
  row-by-row; at 100 TB the job is scan-shaped (narrow, no shuffle);
- frame sampling EXPLODES rows (one row per sampled frame) inside the
  same mapInPandas pass — output partitioning stays aligned with the scan,
  no shuffle until a downstream groupBy.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.operators.dedup import (
    _batch_ids,
    _with_id_mask,
    hamming_band_join,
)

FEATURE_BINS = 16
FRAME_BYTES = 64  # fake fixed-size "frame" for the sampling pipeline


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload column (utf-8 bytes of the text —
    the testdata has no true binary column; the pipeline treats it as
    opaque bytes from here on)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def binary_metadata(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins.

    mime sniffing: tiny deterministic magic-byte check (PNG/JPEG/RIFF
    signatures, else octet-stream) — the real-world version is the same
    expression over more prefixes.
    """
    p = F.col(payload_col)
    head = F.hex(F.substring(p, 1, 4))
    mime = (
        F.when(head.startswith("89504E47"), "image/png")
        .when(head.startswith("FFD8FF"), "image/jpeg")
        .when(head.startswith("52494646"), "audio/wav")
        .otherwise("application/octet-stream")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.octet_length(p).alias("n_bytes"),
        F.md5(p).alias("payload_md5"),
        mime.alias("mime"),
        F.ceil(F.octet_length(p) / F.lit(FRAME_BYTES)).cast("int").alias("n_frames"),
    )


def decode_image(payload: bytes) -> tuple[int, int, int, "object"]:
    """REAL image decode — PNG / BMP / PGM / PPM / baseline JPEG via the
    pure-stdlib codecs in :mod:`whisper_pandas_spark.functions.codecs`
    and :mod:`~whisper_pandas_spark.functions.jpeg` (zlib + struct +
    numpy; no external library). Returns ``(h, w, channels,
    ndarray[h, w, channels] uint8)``. Raises ``CodecError`` on malformed
    bytes and on unsupported codec variants (12-bit, hierarchical
    coding, ...)."""
    from whisper_pandas_spark.functions import codecs

    return codecs.decode_image(payload)


def fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for feature extraction: a 16-bin byte
    histogram, L1-normalized. Same shape/dtype contract as a real
    embedding head. Vectorized (np.bincount over the raw buffer — the
    counts are exact integers, so the result is bit-identical to the
    per-byte formulation it replaced)."""
    import numpy as np

    total = max(len(payload), 1)
    counts = np.bincount(
        np.frombuffer(payload, dtype=np.uint8) & (FEATURE_BINS - 1),
        minlength=FEATURE_BINS,
    )
    return [int(c) / total for c in counts]


def extract_features(
    df: DataFrame, id_col: str, payload_col: str = "payload"
) -> DataFrame:
    """mapInPandas feature extraction: (doc_id, features ARRAY<DOUBLE>).

    Arrow-batched; payload bytes stay in the executor. Narrow — output
    partitioning equals scan partitioning.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["_id"],
                    "features": [
                        fake_decode_features(bytes(p)) for p in pdf["_payload"]
                    ],
                }
            )

    src = df.select(
        F.col(id_col).alias("_id"), F.col(payload_col).alias("_payload")
    )
    return src.mapInPandas(run, "doc_id long, features array<double>")


def sample_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every: int = 4,
) -> DataFrame:
    """Frame sampling: split payload into FRAME_BYTES chunks, keep every
    k-th, one output row per kept frame (row explosion inside the same
    Arrow pass — no shuffle).

    Output: (doc_id, frame_idx, frame_bytes, frame_md5).
    """
    import hashlib

    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, idxs, blobs, hashes = [], [], [], []
            for doc_id, p in zip(pdf["_id"], pdf["_payload"]):
                raw = bytes(p)
                for i in range(0, len(raw), FRAME_BYTES * every):
                    frame = raw[i : i + FRAME_BYTES]
                    ids.append(doc_id)
                    idxs.append(i // FRAME_BYTES)
                    blobs.append(frame)
                    hashes.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_bytes": blobs,
                    "frame_md5": hashes,
                }
            )

    src = df.select(
        F.col(id_col).alias("_id"), F.col(payload_col).alias("_payload")
    )
    return src.mapInPandas(
        run, "doc_id long, frame_idx int, frame_bytes binary, frame_md5 string"
    )


_NULLABLE_DTYPES = {"int": "Int32", "long": "Int64", "double": "Float64"}


def _decode_pass(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    on_error: str,
    decode: Callable[[bytes], list[tuple]],
    schema: str,
    null_row: tuple | None = None,
) -> DataFrame:
    """The one tolerant decode pass behind every ``on_error`` leaf: one
    narrow Arrow `mapInPandas` pass over ``(id, payload)`` with the
    skip/null/fail contract documented on :func:`decode_image_stats`.

    ``decode(bytes)`` returns the payload's output rows (a list of tuples
    matching *schema*, the columns after ``doc_id``) and raises
    ``CodecError`` (or ``NotImplementedError`` for an unsupported codec
    variant) on a payload it cannot decode; a NULL payload counts as one.
    ``null`` mode emits one ``(doc_id, *null_row)`` row per such payload,
    all NULL when *null_row* is None.

    A NULL id passes through as NULL. No integer is rounded through
    float64: the id reaches pandas with its NULLs as a separate mask
    (a NULL in a long column would turn the column into float64), and
    every numeric output column is a nullable pandas array.
    """
    import pandas as pd

    from whisper_pandas_spark.functions.codecs import CodecError

    if on_error not in ("skip", "null", "fail"):
        raise ValueError(f"on_error must be skip|null|fail, got {on_error!r}")
    cols = [c.split(None, 1) for c in f"doc_id long, {schema}".split(",")]
    names = [name for name, _ in cols]
    dtypes = [_NULLABLE_DTYPES.get(typ.strip()) for _, typ in cols]
    if null_row is None:
        null_row = (None,) * (len(cols) - 1)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[tuple] = []
            for doc_id, p in zip(_batch_ids(pdf), pdf["_payload"]):
                try:
                    if p is None:
                        raise CodecError("null payload")
                    decoded = decode(bytes(p))
                except (CodecError, NotImplementedError):
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    decoded = [null_row]
                rows.extend((doc_id, *r) for r in decoded)
            if not rows:
                continue
            yield pd.DataFrame(
                {
                    name: list(vals) if dtype is None else pd.array(vals, dtype=dtype)
                    for name, dtype, vals in zip(names, dtypes, zip(*rows))
                }
            )

    src = _with_id_mask(df, id_col, F.col(payload_col).alias("_payload"))
    return src.mapInPandas(run, f"doc_id long, {schema}")


def _px_stats(img) -> tuple[float, str]:
    """(mean pixel value, md5 of the pixel bytes) of a decoded image."""
    import hashlib

    import numpy as np

    return (
        float(np.asarray(img, dtype=np.float64).mean()),
        hashlib.md5(img.tobytes()).hexdigest(),
    )


def decode_image_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """Decode real image payloads (PNG/BMP/PGM/PPM/baseline JPEG) and
    emit per-image stats: (doc_id, height, width, channels, mean_px,
    px_md5).

    One Arrow `mapInPandas` pass — payload bytes never leave the
    executor, output partitioning stays aligned with the scan (narrow,
    no shuffle). ``on_error``:

    - ``"skip"``  — undecodable rows (malformed bytes OR unsupported
      codec variants like hierarchical JPEG) are dropped, mirroring the
      whisper source's corrupt-file tolerance;
    - ``"null"``  — emit the row with null stats (doc_id kept, so the
      caller can count/inspect failures);
    - ``"fail"``  — re-raise (fail the task).
    """
    from whisper_pandas_spark.functions.codecs import decode_image as _dec

    def decode(raw: bytes) -> list[tuple]:
        h, w, c, img = _dec(raw)
        return [(h, w, c, *_px_stats(img))]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "height int, width int, channels int, mean_px double, px_md5 string",
    )


def decode_frame_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every: int = 1,
    on_error: str = "skip",
) -> DataFrame:
    """REAL frame extraction from multi-frame containers (animated GIF):
    one output row per sampled frame — (doc_id, frame_idx, left, top,
    height, width, mean_px, px_md5). ``every`` keeps every k-th frame
    (k=1 keeps all), the same sampling contract as `sample_frames` but
    over decoded container frames instead of fixed byte chunks.

    Single-frame formats (PNG/BMP/PNM/JPEG) emit exactly one row at
    frame_idx 0 and offset (0, 0), so a mixed corpus needs no dispatch
    upstream. Same Arrow `mapInPandas` shape and ``on_error`` contract
    as :func:`decode_image_stats` (frames stay on executors; narrow, no
    shuffle — row explosion happens inside the pass).
    """
    from whisper_pandas_spark.functions.codecs import (
        decode_gif_frames,
        decode_image as _dec,
    )

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def decode(raw: bytes) -> list[tuple]:
        # decode_gif_frames samples at the container level, so unsampled
        # frames are never LZW-decoded; entry j is original frame j*every
        if raw[:6] in (b"GIF87a", b"GIF89a"):
            _sw, _sh, frames = decode_gif_frames(raw, every=every)
        else:
            h, w, _c, img = _dec(raw)
            frames = [(0, 0, h, w, img)]
        return [
            (j * every, left, top, h, w, *_px_stats(img))
            for j, (left, top, h, w, img) in enumerate(frames)
        ]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "frame_idx int, left int, top int, height int, width int, "
        "mean_px double, px_md5 string",
    )


def decode_audio_stats(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """Decode audio payloads (WAV: PCM / IEEE-float32 / G.711 mu-law /
    A-law; AIFF: big-endian PCM) and emit per-clip stats:
    (doc_id, sample_rate, channels, n_samples, duration_s, rms).

    Same Arrow / narrow / tolerant-decode contract as
    :func:`decode_image_stats`.
    """
    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_audio as _dec

    def decode(raw: bytes) -> list[tuple]:
        rate, ch, samples = _dec(raw)
        n = samples.shape[0]
        rms = (
            float(np.sqrt(np.mean(np.square(samples.astype(np.float64)))))
            if n
            else 0.0
        )
        return [(rate, ch, n, n / rate if rate else None, rms)]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "sample_rate int, channels int, n_samples long, duration_s double, "
        "rms double",
    )


def resize_images(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    h_col: str = "height",
    w_col: str = "width",
    out_h: int = 8,
    out_w: int = 8,
) -> DataFrame:
    """Nearest-neighbor resize of raw single-channel images — REAL pixel
    math (index arithmetic needs no codec), run as one Arrow pass.

    The payload is interpreted as a row-major ``h × w`` single-channel
    image (shorter payloads zero-pad, the tolerant-decode convention);
    output pixel (r, c) = input pixel (floor(r·h/out_h), floor(c·w/out_w))
    — the standard nearest-neighbor map, byte-exact and deterministic, so
    tests can assert against an independent numpy computation. A codec-
    backed path would only swap the byte→pixel interpretation
    (:func:`decode_image`); the Spark-side contract — schema, Arrow batch
    shape, narrow partition alignment — is exactly what a PIL/opencv
    version would keep.

    Output: (doc_id, out_h INT, out_w INT, resized BINARY, resized_md5).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, blobs, hashes = [], [], []
            for doc_id, p, h, w in zip(
                pdf["_id"], pdf["_payload"], pdf["_h"], pdf["_w"]
            ):
                h, w = int(h), int(w)
                if h <= 0 or w <= 0:
                    # degenerate dimensions: emit an all-zero block
                    # instead of crashing the Arrow task (tolerant-
                    # decode convention, same as short payloads)
                    blob = bytes(out_h * out_w)
                else:
                    raw = np.frombuffer(bytes(p), dtype=np.uint8)
                    img = np.zeros(h * w, dtype=np.uint8)
                    img[: min(len(raw), h * w)] = raw[: h * w]
                    img = img.reshape(h, w)
                    rr = (np.arange(out_h) * h) // out_h
                    cc = (np.arange(out_w) * w) // out_w
                    small = img[rr][:, cc]
                    blob = small.tobytes()
                ids.append(doc_id)
                blobs.append(blob)
                hashes.append(hashlib.md5(blob).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "out_h": np.full(len(ids), out_h, dtype=np.int32),
                    "out_w": np.full(len(ids), out_w, dtype=np.int32),
                    "resized": blobs,
                    "resized_md5": hashes,
                }
            )

    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(payload_col).alias("_payload"),
        F.col(h_col).alias("_h"),
        F.col(w_col).alias("_w"),
    )
    return src.mapInPandas(
        run, "doc_id long, out_h int, out_w int, resized binary, resized_md5 string"
    )


def audio_features(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    frame: int = 512,
    hop: int = 256,
    silence_db: float = -40.0,
    on_error: str = "skip",
) -> DataFrame:
    """Frame-based audio DSP features per clip — the audio analogue of
    :func:`decode_image_stats`'s feature leaf, over the same pure-stdlib
    codec path (functions/codecs.py): mono mixdown, then overlapping
    frames of *frame* samples every *hop*, and per clip:

    (doc_id, n_frames, zcr, spectral_centroid_hz, spectral_bandwidth_hz,
    spectral_rolloff_hz, peak, rms_mean, rms_max, silence_ratio)

    - zcr: mean zero-crossing rate across frames (fraction per sample)
    - spectral_*: magnitude-weighted rfft statistics averaged over
      non-silent frames (centroid / bandwidth in Hz, 85% rolloff)
    - silence_ratio: fraction of frames under *silence_db* dBFS
    All framing is a strided view + one vectorized rfft per clip batch —
    numpy inside the Arrow task, no per-sample Python. Same
    skip/null/fail tolerant-decode contract as the other decode leaves.
    """
    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_audio as _dec,
    )

    if hop < 1 or frame < 2 or hop > frame:
        raise ValueError("need frame >= 2, 1 <= hop <= frame")

    def decode(raw: bytes) -> list[tuple]:
        rate, _ch, samples = _dec(raw)
        if rate <= 0 or samples.shape[0] == 0:
            raise CodecError("empty clip")
        mono = samples.astype(np.float64).mean(axis=1) / 32768.0
        n = mono.shape[0]
        if n < frame:
            mono = np.pad(mono, (0, frame - n))
            n = frame
        n_frames = 1 + (n - frame) // hop
        idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
        fr = mono[idx]  # (n_frames, frame)
        rms = np.sqrt(np.mean(fr * fr, axis=1))
        peak = float(np.max(np.abs(mono)))
        zcr = float(
            np.mean(np.abs(np.diff(np.signbit(fr), axis=1)).sum(axis=1))
            / frame
        )
        silent = rms < 10.0 ** (silence_db / 20.0)
        silence_ratio = float(np.mean(silent))
        voiced = fr[~silent]
        if voiced.shape[0]:
            mag = np.abs(np.fft.rfft(voiced, axis=1))
            freqs = np.fft.rfftfreq(frame, d=1.0 / rate)
            w = mag.sum(axis=1)
            w[w == 0] = 1.0
            cent = (mag * freqs).sum(axis=1) / w
            bw = np.sqrt(
                (mag * (freqs[None, :] - cent[:, None]) ** 2).sum(axis=1) / w
            )
            cum = np.cumsum(mag, axis=1)
            roll_idx = np.argmax(cum >= 0.85 * cum[:, -1:], axis=1)
            roll = freqs[roll_idx]
            spec = [float(cent.mean()), float(bw.mean()), float(roll.mean())]
        else:
            spec = [None, None, None]
        return [(
            int(n_frames), zcr, *spec, peak,
            float(rms.mean()), float(rms.max()), silence_ratio,
        )]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "n_frames long, zcr double, spectral_centroid_hz double, "
        "spectral_bandwidth_hz double, spectral_rolloff_hz double, "
        "peak double, rms_mean double, rms_max double, silence_ratio double",
    )


ORIENT_BINS = 8


def image_features(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """REAL image feature head over DECODED pixels — the image analogue
    of :func:`audio_features` (replaces the byte-histogram stand-in as
    the featurizer of record; `fake_decode_features` stays as the
    oracle-in-SQL teaching path). Per image:

    (doc_id, height, width, channels, mean_px, std_px, skew_px,
    grad_x_mean, grad_y_mean, orient_hist ARRAY<DOUBLE>[8])

    - moments are over the luma plane (channel mean for multi-channel,
      the raw plane for grayscale) via EXACT integer power sums
      S1=Σb, S2=Σb², S3=Σb³, expanded to mean/std/skewness in a fixed
      IEEE expression order — so a SQL engine replaying the same sums
      reproduces the doubles bit-for-bit (registry entry
      `mm_image_features` plants PGM payloads whose pixel bytes DuckDB
      can enumerate);
    - grad_*_mean: mean absolute horizontal/vertical first difference
      (integer sums again; NULL when the axis has extent 1) — the
      sharpness/edge-energy signal;
    - orient_hist: gradient-orientation histogram over interior pixels
      (atan2(gy, gx) binned into 8 sectors, counts/total) — HOG-lite,
      the public-knowledge texture descriptor (pytest-verified; kept out
      of the SQL oracle because bin edges sit on irrational multiples of
      pi where libm rounding may differ across engines).

    All per-pixel math is numpy inside the Arrow task; Python touches
    each IMAGE once, never each pixel. Same skip/null/fail contract as
    the other decode leaves.
    """
    import numpy as np

    from whisper_pandas_spark.functions.codecs import decode_image as _dec

    def decode(raw: bytes) -> list[tuple]:
        h, w, c, img = _dec(raw)
        plane = img[:, :, 0] if c == 1 else img.mean(axis=2)
        n = h * w
        if c == 1:
            # exact integer power sums -> deterministic doubles
            b = plane.astype(np.int64)
            s1 = int(b.sum())
            s2 = int((b * b).sum())
            s3 = int((b * b * b).sum())
            mean = s1 / n
            var = s2 / n - mean * mean
            std = float(np.sqrt(var)) if var > 0 else 0.0
            m3 = s3 - 3.0 * mean * s2 + 3.0 * mean * mean * s1 - n * mean * mean * mean
            skew = (m3 / n) / (std * std * std) if std > 0 else None
        else:
            fp = plane.astype(np.float64)
            mean = float(fp.mean())
            std = float(fp.std())
            skew = (
                float(((fp - mean) ** 3).mean() / std**3) if std > 0 else None
            )
        gx = np.abs(np.diff(plane.astype(np.int64) if c == 1 else plane, axis=1))
        gy = np.abs(np.diff(plane.astype(np.int64) if c == 1 else plane, axis=0))
        gx_mean = int(gx.sum()) / (h * (w - 1)) if w > 1 else None
        gy_mean = int(gy.sum()) / ((h - 1) * w) if h > 1 else None
        if h > 2 and w > 2:
            p = plane.astype(np.float64)
            cgx = p[1:-1, 2:] - p[1:-1, :-2]
            cgy = p[2:, 1:-1] - p[:-2, 1:-1]
            theta = np.arctan2(cgy, cgx)  # [-pi, pi]
            bins = np.minimum(
                ((theta + np.pi) * (ORIENT_BINS / (2 * np.pi))).astype(np.int64),
                ORIENT_BINS - 1,
            )
            hist = np.bincount(bins.ravel(), minlength=ORIENT_BINS)
            orient = (hist / hist.sum()).tolist()
        else:
            orient = None
        return [(h, w, c, mean, std, skew, gx_mean, gy_mean, orient)]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "height int, width int, channels int, mean_px double, "
        "std_px double, skew_px double, grad_x_mean double, "
        "grad_y_mean double, orient_hist array<double>",
    )


DHASH_ROWS = 8   # dHash grid: 8 row-comparisons ...
DHASH_COLS = 9   # ... over 9 columns -> 8x8 = 64 bits



def _dhash_grid(plane, h: int, w: int):
    """Integer block-average of *plane* to the DHASH_ROWS x DHASH_COLS
    grid (sum // count per cell). Fully vectorized when the grid divides
    the image evenly (one reshape-sum, no per-cell Python); boundary
    arithmetic fallback otherwise — identical values either way."""
    import numpy as np

    if h % DHASH_ROWS == 0 and w % DHASH_COLS == 0:
        bh = h // DHASH_ROWS
        bw = w // DHASH_COLS
        return (
            plane.reshape(DHASH_ROWS, bh, DHASH_COLS, bw).sum(axis=(1, 3))
            // (bh * bw)
        )
    rb = [r * h // DHASH_ROWS for r in range(DHASH_ROWS + 1)]
    cb = [c * w // DHASH_COLS for c in range(DHASH_COLS + 1)]
    grid = np.empty((DHASH_ROWS, DHASH_COLS), dtype=np.int64)
    for r in range(DHASH_ROWS):
        for cc in range(DHASH_COLS):
            blk = plane[rb[r] : rb[r + 1], cb[cc] : cb[cc + 1]]
            grid[r, cc] = int(blk.sum()) // blk.size
    return grid


def _dhash_bits_value(grid) -> int:
    """Pack the 8x8 left-vs-right comparison bits of a 9-column grid
    into a signed 64-bit int (bit k = r*8 + c)."""
    bits = (grid[:, :-1] < grid[:, 1:]).ravel()
    # 64 iterations — negligible next to the decode; clearer than the
    # packbits byte-order dance
    val = 0
    for k, bit in enumerate(bits):
        if bit:
            val |= 1 << k
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_dhash(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """64-bit difference hash (dHash) over decoded luma — the public
    perceptual fingerprint (aHash/dHash family, e.g. the widely-cited
    "Kind of Like That" dHash recipe): downscale the luma plane to a
    9-column x 8-row grid, set bit ``r*8 + c`` iff
    ``grid[r][c] < grid[r][c+1]``. Brightness shifts preserve every
    inequality (hamming 0); small local edits flip only the bits whose
    grid cells they touch — so near-duplicate images land within a few
    bits while distinct images differ in ~32.

    Determinism / oracle-ability: the downscale is INTEGER block
    averaging — cell (r, c) spans pixel rows ``[r*h//8, (r+1)*h//8)``
    and cols ``[c*w//9, (c+1)*w//9)`` and takes ``sum // count`` — so
    when 8 | h and 9 | w (the planted 18x16 fixture) a SQL engine
    replays the exact grid with integer arithmetic. Images smaller than
    the grid (h < 8 or w < 9) are decode errors under the usual
    skip/null/fail contract.

    Returns (doc_id, dhash LONG) — bit k at numeric position k, two's
    complement when bit 63 is set (both Spark and DuckDB BIGINTs are
    64-bit two's complement, so XOR/bit_count agree). One narrow Arrow
    pass, scan-aligned, no shuffle — numpy touches each IMAGE once.
    """
    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_image as _dec,
    )

    def decode(raw: bytes) -> list[tuple]:
        h, w, c, img = _dec(raw)
        if h < DHASH_ROWS or w < DHASH_COLS:
            raise CodecError(f"image {h}x{w} smaller than dHash grid")
        plane = (
            img[:, :, 0].astype(np.int64)
            if c == 1
            # integer luma for multi-channel: channel SUM (the relative
            # order of cell means is what dHash compares; summing keeps
            # the arithmetic exact where averaging would need floats)
            else img.astype(np.int64).sum(axis=2)
        )
        return [(_dhash_bits_value(_dhash_grid(plane, h, w)),)]

    return _decode_pass(df, id_col, payload_col, on_error, decode, "dhash long")


def phash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_hamming: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by dHash hamming distance — the image
    twin of dedup.simhash_pairs, VERDICT r11 task #4.

    Pigeonhole blocking over the 64-bit hash: 8 bands of 8 bits; any two
    hashes with hamming <= 7 share at least one identical band, so the
    band-equality self-join has NO false negatives for
    ``max_hamming <= 7`` (the default 6 keeps the guarantee) and the
    banded result provably equals the O(n^2) brute force. Verification
    is ``bit_count(h_i XOR h_j) <= k`` — bitwise on two's complement, so
    a sign bit in the hash is harmless.

    ``max_bucket`` is the same cluster-scale skew guard as
    simhash_pairs/lsh_pairs: 8-bit bands have only 256 distinct keys, so
    at corpus scale every band key is dense; capping drops degenerate
    buckets BEFORE the join at a documented recall cost. Default None
    keeps exactness.

    Returns (doc_i, doc_j, hamming) with doc_i < doc_j.
    """
    base = image_dhash(df, id_col, payload_col).persist()
    return hamming_band_join(base, "dhash", 8, 8, max_hamming, max_bucket)


AFP_FRAME = 32    # samples per energy frame
AFP_BITS = 32     # energy-difference comparison bits (needs 33 frames)


def audio_fingerprint(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    on_error: str = "skip",
) -> DataFrame:
    """32-bit energy-difference audio fingerprint — the audio twin of
    :func:`image_dhash` (the public acoustic-fingerprint recipe family:
    Haitsma & Kalker 2002's energy-band sign bits, simplified to one
    band so the integer math is SQL-replayable): split the decoded
    sample stream into consecutive 32-sample frames, compute each
    frame's EXACT integer energy E_f = sum(v^2) (int64 — 32 squares of
    int16 fit with headroom), and set bit f iff E_f < E_{f+1} for the
    first 32 frame transitions. Clips shorter than 33 frames (1056
    samples) are decode errors under the usual skip/null/fail contract;
    longer clips fingerprint their prefix (documented — a production
    variant would hash overlapping windows).

    Gain-scaling robustness: multiplying every sample by a constant
    scales every energy equally, preserving all inequalities — the
    audio analogue of dHash's brightness invariance (pytest-pinned).
    Returns (doc_id, afp LONG) with afp in [0, 2^32) — no sign bit, so
    band arithmetic needs no unsigned-shift care. One narrow Arrow
    pass, scan-aligned, no shuffle.
    """
    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_audio as _dec,
    )

    need = AFP_FRAME * (AFP_BITS + 1)

    def decode(raw: bytes) -> list[tuple]:
        _rate, _ch, samples = _dec(raw)
        mono = samples if samples.ndim == 1 else samples[:, 0]
        if mono.shape[0] < need:
            raise CodecError(
                f"clip has {mono.shape[0]} samples, fingerprint needs {need}"
            )
        v = mono[:need].astype(np.int64)
        e = (v * v).reshape(AFP_BITS + 1, AFP_FRAME).sum(axis=1)
        bits = e[:-1] < e[1:]
        val = 0
        for k, bit in enumerate(bits):
            if bit:
                val |= 1 << k
        return [(val,)]

    return _decode_pass(df, id_col, payload_col, on_error, decode, "afp long")


def audio_neardup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_hamming: int = 5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Audio near-duplicate pairs by fingerprint hamming distance —
    4 bands of 8 bits over the 32-bit fingerprint. Pigeonhole gives NO
    false negatives for hamming <= 3; the default ``max_hamming=5``
    keeps localized edits (a few perturbed frames) while accepting that
    a 4-5-bit pair must ALSO share a band to surface — the recall
    contract is the banding itself, replayed identically by the SQL
    oracle, so both engines enumerate the same pairs. ``max_bucket`` is
    the usual dense-bucket skew guard. Returns (doc_i, doc_j, hamming),
    doc_i < doc_j."""
    base = audio_fingerprint(df, id_col, payload_col).persist()
    return hamming_band_join(base, "afp", 4, 8, max_hamming, max_bucket)


def video_frame_dhash(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    every: int = 1,
    on_error: str = "skip",
) -> DataFrame:
    """Per-frame dHash over a multi-frame container (animated GIF):
    (doc_id, frame_idx, dhash) — one row per SAMPLED frame (``every``
    is the container-level sampling stride: skipped frames' LZW streams
    are never decoded, see functions/codecs.py:decode_gif_frames). Each
    frame hashes exactly like :func:`image_dhash` (integer block
    average to the 9x8 grid over the channel-sum luma). One narrow
    Arrow pass; rows explode inside the task, no shuffle."""
    import numpy as np

    from whisper_pandas_spark.functions.codecs import (
        CodecError,
        decode_gif_frames,
    )

    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")

    def one_hash(img: "np.ndarray") -> int:
        h, w = img.shape[:2]
        if h < DHASH_ROWS or w < DHASH_COLS:
            raise CodecError(f"frame {h}x{w} smaller than dHash grid")
        return _dhash_bits_value(_dhash_grid(img.astype(np.int64).sum(axis=2), h, w))

    def decode(raw: bytes) -> list[tuple]:
        _sw, _sh, frames = decode_gif_frames(raw, every)
        return [
            (j * every, one_hash(img))
            for j, (_l, _t, _h, _w, img) in enumerate(frames)
        ]

    return _decode_pass(
        df, id_col, payload_col, on_error, decode,
        "frame_idx int, dhash long", null_row=(0, None),
    )


def video_neardup_pairs(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    max_total_hamming: int = 8,
    every: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Clip-level near-duplicate pairs over multi-frame containers:
    clip distance = SUM over aligned frame indices of the per-frame
    dHash hamming distance. Candidates come from a band join keyed on
    (frame_idx, band, band_value) — two clips surface when ANY aligned
    frame shares an 8-bit band.

    No false negatives for ``max_total_hamming <= 8`` with 4+ frames:
    a total of <= 8 over >= 4 frames puts SOME frame at hamming <= 2,
    within that frame's pigeonhole guarantee (<= 7). Clips must share
    the frame grid (same sampled indices) to compare — the planted
    fixture guarantees it; production callers align via ``every``.

    Returns (doc_i, doc_j, total_hamming), doc_i < doc_j. The frame
    table shuffles only (ids, 8-byte hashes); payloads never move.
    """
    base = video_frame_dhash(df, id_col, payload_col, every).persist()
    cands = hamming_band_join(
        base, "dhash", 8, 8, None, max_bucket, keys=("frame_idx",)
    )
    hi = base.select(
        F.col("doc_id").alias("doc_i"),
        "frame_idx",
        F.col("dhash").alias("dh_i"),
    )
    hj = base.select(
        F.col("doc_id").alias("doc_j"),
        "frame_idx",
        F.col("dhash").alias("dh_j"),
    )
    out = (
        cands.join(hi, "doc_i")
        .join(hj, ["doc_j", "frame_idx"])
        .groupBy("doc_i", "doc_j")
        .agg(
            F.sum(F.bit_count(F.expr("dh_i ^ dh_j")))
            .cast("int")
            .alias("total_hamming")
        )
        .filter(F.col("total_hamming") <= max_total_hamming)
    )
    out._wps_cached = [base]
    return out
