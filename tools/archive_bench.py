#!/usr/bin/env python
"""Archive-shard (WebDataset) ingestion throughput at scale (SCALE.md).

Generates N tar shards of synthetic samples (png + txt + json members),
then measures `read_archive_members` and `read_webdataset` wall time on
local[*] — shard MB/s and samples/s. The parallelism unit is the shard
file, so throughput should scale with min(cores, shards).

Usage: python tools/archive_bench.py [n_shards] [samples_per_shard]
"""

from __future__ import annotations

import io
import sys
import tarfile
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import best_of
from whisper_pandas_spark.functions.codecs import encode_png


def main() -> None:
    n_shards = int(sys.argv[1]) if len(sys.argv) > 1 else 48
    per_shard = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    import tempfile

    rng = np.random.default_rng(0)
    tmp = Path(tempfile.mkdtemp(prefix="archive_bench_"))
    total_bytes = 0
    for s in range(n_shards):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for i in range(per_shard):
                key = f"{s:04d}{i:05d}"
                img = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
                for ext, data in (
                    ("png", encode_png(img)),
                    ("txt", f"sample {key} caption text".encode()),
                    ("json", b'{"k": %d}' % i),
                ):
                    info = tarfile.TarInfo(f"{key}.{ext}")
                    info.size = len(data)
                    tf.addfile(info, io.BytesIO(data))
        blob = buf.getvalue()
        total_bytes += len(blob)
        (tmp / f"shard-{s:04d}.tar").write_bytes(blob)

    from whisper_pandas_spark.session import get_spark
    from whisper_pandas_spark.sources.archives import (
        read_archive_members,
        read_webdataset,
    )

    spark = get_spark()
    spark.range(10).count()  # warm

    n_members, walls = best_of(
        3, lambda: read_archive_members(spark, str(tmp)).count()
    )
    best = min(walls)
    print(
        f"members: {n_members} from {n_shards} shards "
        f"({total_bytes/1e6:.0f} MB), best {best:.2f} s -> "
        f"{total_bytes/1e6/best:.0f} MB/s, {n_members/best:.0f} members/s"
    )

    n_samples, walls = best_of(
        3, lambda: read_webdataset(spark, str(tmp)).count()
    )
    best = min(walls)
    print(
        f"samples: {n_samples}, best {best:.2f} s -> "
        f"{total_bytes/1e6/best:.0f} MB/s, {n_samples/best:.0f} samples/s"
    )

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
