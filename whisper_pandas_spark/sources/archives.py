"""Archive-shard ingestion: tar / zip corpora as DataFrames (WebDataset
layout).

Large multimodal training corpora ship as directories of archive shards
— most commonly the WebDataset convention: each `.tar` holds members
named ``<sample key>.<extension>`` (``000017.jpg``, ``000017.txt``,
``000017.json``), consecutive members with the same key forming one
training sample. This module reads such corpora Spark-natively:

- `read_archive_members`: every member of every shard as one row
  ``(shard, member, payload, n_bytes)`` — the raw inventory view;
- `read_webdataset`: members grouped to one row per sample —
  ``(shard, key, exts ARRAY<STRING>, payloads MAP<STRING, BINARY>)`` —
  ready for the decode operators (`decode_image_stats` etc. over
  ``payloads['jpg']``).

Both are pure stdlib (``tarfile`` / ``zipfile`` / ``gzip`` over
``io.BytesIO``) inside ONE Arrow `mapInPandas` pass over Spark's
built-in ``binaryFile`` source.

Scale notes:
- parallelism unit = the shard file (the WebDataset contract: shards are
  sized for exactly this, typically 100 MB-1 GB); `binaryFile` gives one
  task per shard, so a 100 TB corpus of 100k shards fans out across any
  executor count with zero shuffles;
- payloads never visit the driver and are never concatenated — each
  member is extracted to its own row inside the executor pass;
- sample grouping is per-shard BY CONSTRUCTION (WebDataset keys don't
  span shards), so `read_webdataset` needs NO groupBy/shuffle — it
  groups inside the same Arrow pass that parses the tar;
- ``on_error='skip'`` tolerates corruption (the whisper-source
  corrupt-file contract): an unreadable shard contributes nothing; a
  shard torn MID-STREAM keeps every member decoded before the tear
  (identical semantics in both readers — an archive stream cannot be
  resynchronized past a tear, so "skip just the bad member" is not a
  thing either format supports);
- each member is capped at ``MAX_MEMBER_BYTES`` (1 GiB) declared AND
  actual size, so a hostile deflate bomb inside a zip shard cannot
  balloon executor memory (the same bounded-decode stance as the PNG
  geometry cap and the LZW output cap in `functions/codecs.py`).

The 2 GB Spark row limit bounds a single shard read; WebDataset shard
sizing keeps real corpora far under it. ``maxPartitionBytes`` does not
split archives (they are not splittable mid-stream) — matching how
every tar-sharded loader parallelizes.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize

MAX_MEMBER_BYTES = 1 << 30


def _iter_members(blob: bytes):
    """Yield (member_name, payload bytes) from a tar(.gz) or zip blob,
    sniffed by magic bytes. Raises mid-iteration on a torn stream;
    callers decide whether already-yielded members survive."""
    import io
    import tarfile
    import zipfile

    if blob[:4] == b"PK\x03\x04":
        with zipfile.ZipFile(io.BytesIO(blob)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                if info.file_size > MAX_MEMBER_BYTES:
                    raise ValueError(
                        f"member {info.filename} exceeds {MAX_MEMBER_BYTES} bytes"
                    )
                with zf.open(info) as fobj:
                    # declared size can lie; read one byte past the cap
                    data = fobj.read(MAX_MEMBER_BYTES + 1)
                if len(data) > MAX_MEMBER_BYTES:
                    raise ValueError(f"member {info.filename} exceeds size cap")
                yield info.filename, data
        return
    # tarfile sniffs gzip itself with mode "r:*"
    with tarfile.open(fileobj=io.BytesIO(blob), mode="r:*") as tf:
        for info in tf:
            if not info.isfile():
                continue
            if info.size > MAX_MEMBER_BYTES:
                raise ValueError(
                    f"member {info.name} exceeds {MAX_MEMBER_BYTES} bytes"
                )
            fobj = tf.extractfile(info)
            if fobj is None:
                continue
            yield info.name, fobj.read()


def _members_tolerant(blob: bytes, on_error: str) -> list:
    """Decode as many members as the stream yields before any tear.

    ``skip`` keeps the pre-tear prefix (possibly empty); ``fail``
    re-raises — ONE contract shared by both readers.
    """
    members: list = []
    try:
        for item in _iter_members(blob):
            members.append(item)
    except Exception:
        if on_error == "fail":
            raise
    return members


def read_archive_members(
    spark: SparkSession,
    path: str,
    glob: str = "*.tar",
    on_error: str = "skip",
) -> DataFrame:
    """Every member of every archive shard under ``path`` as one row:
    ``(shard STRING, member STRING, payload BINARY, n_bytes LONG)``.

    ``glob`` filters shard files (``*.tar``, ``*.tar.gz``, ``*.zip``);
    ``on_error='skip'`` keeps each shard's pre-tear member prefix
    (nothing for an unreadable shard), ``'fail'`` fails the task.
    """
    import pandas as pd

    if on_error not in ("skip", "fail"):
        raise ValueError(f"on_error must be skip|fail, got {on_error!r}")

    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            shards, members, payloads, sizes = [], [], [], []
            for shard_path, blob in zip(pdf["path"], pdf["content"]):
                for name, data in _members_tolerant(bytes(blob), on_error):
                    shards.append(shard_path)
                    members.append(name)
                    payloads.append(data)
                    sizes.append(len(data))
            if not shards:
                continue
            yield pd.DataFrame(
                {
                    "shard": shards,
                    "member": members,
                    "payload": payloads,
                    "n_bytes": sizes,
                }
            )

    return src.mapInPandas(
        run, "shard string, member string, payload binary, n_bytes long"
    )


def read_webdataset(
    spark: SparkSession,
    path: str,
    glob: str = "*.tar",
    on_error: str = "skip",
) -> DataFrame:
    """WebDataset samples: one row per sample key —
    ``(shard, key, exts ARRAY<STRING>, payloads MAP<STRING, BINARY>)``.

    Key = member name up to the FIRST dot of the basename (the
    WebDataset rule: ``a/b/000017.seg.png`` -> key ``a/b/000017``, ext
    ``seg.png``). Grouping happens inside the same executor pass that
    parses the tar — no shuffle; keys never span shards by the
    WebDataset contract, so per-shard grouping IS global grouping.
    """
    import pandas as pd

    if on_error not in ("skip", "fail"):
        raise ValueError(f"on_error must be skip|fail, got {on_error!r}")

    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def split_key(name: str) -> tuple[str, str]:
        slash = name.rfind("/")
        dot = name.find(".", slash + 1)
        if dot < 0:
            return name, ""
        return name[:dot], name[dot + 1 :]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            shards, keys, exts, payloads = [], [], [], []
            for shard_path, blob in zip(pdf["path"], pdf["content"]):
                samples: dict[str, dict[str, bytes]] = {}
                order: list[str] = []
                for name, data in _members_tolerant(bytes(blob), on_error):
                    key, ext = split_key(name)
                    if key not in samples:
                        samples[key] = {}
                        order.append(key)
                    samples[key][ext] = data
                for key in order:
                    shards.append(shard_path)
                    keys.append(key)
                    exts.append(sorted(samples[key]))
                    payloads.append(samples[key])
            if not shards:
                continue
            yield pd.DataFrame(
                {
                    "shard": shards,
                    "key": keys,
                    "exts": exts,
                    "payloads": payloads,
                }
            )

    return src.mapInPandas(
        run,
        "shard string, key string, exts array<string>, "
        "payloads map<string, binary>",
    )


def member_payloads(df: DataFrame, ext: str, key_col: str = "key") -> DataFrame:
    """Project one modality out of a `read_webdataset` frame:
    ``(key, payload)`` rows for samples that carry ``ext`` — the adapter
    into `decode_image_stats` / `decode_audio_stats` (narrow, codegen
    map lookup, no Python)."""
    return (
        df.select(F.col(key_col).alias("key"), F.col("payloads")[ext].alias("payload"))
        .where(F.col("payload").isNotNull())
    )


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int,
    key_col: str = "key",
    payloads_col: str = "payloads",
    seed: int = 0,
    mode: str = "overwrite",
) -> DataFrame:
    """The export half of the WebDataset loop: write (key, {ext: bytes})
    samples as ``out_dir/shard-%05d.tar`` — the layout
    :func:`read_webdataset` (and every WebDataset loader) consumes.
    Returns the manifest: (shard, n_samples, n_members, n_bytes).

    Placement and bytes are DETERMINISTIC: shard =
    ``hash_bucket(key, seed) % n_shards`` (the engine-portable md5
    bucket — append-stable, so yesterday's keys keep their shards),
    members sort by (key, ext), and tar headers pin mtime/uid/gid/mode —
    re-exporting the same corpus yields byte-identical shards (tested),
    which makes shard-level checksums a meaningful integrity tool.

    Scale: ONE exchange (repartition on the shard id) + a
    sortWithinPartitions; each task streams its shards' tars straight to
    disk (attempt-unique .tmp, atomic rename per shard — a crashed or
    speculative duplicate attempt never publishes a torn shard), holding
    one row's payloads in memory at a time. n_shards is the parallelism
    AND file-size dial: size shards to ~0.1-1 GB like any WebDataset
    corpus.

    Contracts enforced (ValueError executor-side): keys are unique, and
    a key's basename contains no ``.`` — the reader splits member names
    at the first dot after the last slash, so a dotted key would come
    back under the wrong key and silently merge with its neighbor.
    ``mode="overwrite"`` first clears existing ``shard-*`` files so a
    re-export with fewer shards cannot leave stale tars mixed in.
    """
    import os
    import tarfile

    import pandas as pd

    from whisper_pandas_spark.operators.sampling import hash_bucket

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if mode not in ("overwrite", "error"):
        raise ValueError(f"mode must be overwrite|error, got {mode!r}")
    os.makedirs(out_dir, exist_ok=True)
    existing = [f for f in os.listdir(out_dir) if f.startswith("shard-")]
    if mode == "error" and existing:
        raise FileExistsError(f"shards already present under {out_dir}")
    for f in existing:  # overwrite: stale shards/tmps must not survive
        os.remove(os.path.join(out_dir, f))

    src = (
        df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(payloads_col).alias("payloads"),
            F.pmod(hash_bucket(F.col(key_col).cast("string"), seed), F.lit(n_shards))
            .cast("int")
            .alias("shard"),
        )
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "key")
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import io

        from pyspark import TaskContext

        tc = TaskContext.get()
        attempt = tc.taskAttemptId() if tc is not None else os.getpid()
        open_shard = -1
        tf = None
        tmp = final = None
        prev_key = None
        stats = {}  # shard -> [samples, members, bytes]

        def close_current():
            nonlocal tf
            if tf is not None:
                tf.close()
                os.replace(tmp, final)
                tf = None

        for pdf in batches:
            for key, payloads, shard in zip(
                pdf["key"], pdf["payloads"], pdf["shard"]
            ):
                shard = int(shard)
                if shard != open_shard:
                    close_current()
                    open_shard = shard
                    final = os.path.join(out_dir, f"shard-{shard:05d}.tar")
                    tmp = f"{final}.{attempt}.tmp"
                    tf = tarfile.open(tmp, "w")
                    stats.setdefault(shard, [0, 0, 0])
                    prev_key = None
                base = key.rsplit("/", 1)[-1]
                if "." in base:
                    raise ValueError(
                        f"key basename must not contain '.': {key!r} "
                        "(the WebDataset reader splits at the first dot)"
                    )
                if key == prev_key:  # rows are (shard, key)-sorted
                    raise ValueError(f"duplicate key in export: {key!r}")
                prev_key = key
                if payloads is None or len(payloads) == 0:
                    continue
                stats[shard][0] += 1
                for ext in sorted(payloads):
                    blob = payloads[ext]
                    if blob is None:
                        continue
                    blob = bytes(blob)
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(blob)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.mode = 0o644
                    tf.addfile(info, io.BytesIO(blob))
                    stats[shard][1] += 1
                    stats[shard][2] += len(blob)
        close_current()
        if stats:
            yield pd.DataFrame(
                [(s, a, b, c) for s, (a, b, c) in sorted(stats.items())],
                columns=["shard", "n_samples", "n_members", "n_bytes"],
            )

    manifest = src.mapInPandas(
        run, "shard int, n_samples long, n_members long, n_bytes long"
    )
    # the action: force every task to write, then return the (tiny,
    # checkpointed) manifest so callers can persist it next to the data
    return stage_materialize(manifest)
