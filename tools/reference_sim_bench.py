#!/usr/bin/env python
"""Single-node throughput baseline: simulate the reference's decode path.

The reference (`/root/reference/whisper_pandas.py`) publishes no numbers,
so this re-creates its exact pipeline — whole-file read_bytes
(:264), per-archive np.frombuffer zero-copy view (:178-184),
timestamp!=0 mask (:214-215), int32/float64 casts with endianness fix
(:217-227), pd.to_datetime utc (:222-223), DataFrame + sort_values
(:229-232) — single-threaded on the same 82.8 MB fixture geometry
bench.py feeds the distributed scan, and prints seconds. Run:

    python tools/reference_sim_bench.py
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import WHISPER_GEOMETRY, _whisper_fixture, timed

DTYPE_POINT = np.dtype([("timestamp", ">u4"), ("value", ">f8")])


def _reference_decode(path: str) -> list[pd.DataFrame]:
    """The reference's decode of one file: one sorted frame per archive."""
    buffer = Path(path).read_bytes()  # whole file, like README.md:64
    offset = 16 + 12 * len(WHISPER_GEOMETRY)  # header
    frames = []
    for _spp, points, _fill in WHISPER_GEOMETRY:
        arr = np.frombuffer(buffer, DTYPE_POINT, count=points, offset=offset)
        offset += 12 * points
        mask = arr["timestamp"] != 0          # drop_time_zero
        ts = arr["timestamp"][mask].astype("int32")   # :221
        vals = arr["value"][mask].astype("float64")   # :227 endianness fix
        ts_dt = pd.to_datetime(ts, unit="s", utc=True)  # :222
        df = pd.DataFrame({"timestamp": ts_dt, "value": vals})
        frames.append(df.sort_values("timestamp"))     # :231
    return frames


def main() -> None:
    path = _whisper_fixture()
    frames, elapsed = timed(_reference_decode, path)
    n = sum(len(f) for f in frames)
    print(
        f"reference-path single-thread decode: {elapsed:.3f}s "
        f"({n} filled points, {len(frames)} archives, "
        f"{Path(path).stat().st_size / 1e6:.1f} MB)"
    )


if __name__ == "__main__":
    main()
