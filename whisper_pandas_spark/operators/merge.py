"""Copy-on-write MERGE (upsert/delete) for parquet tables.

The mutation primitive a training-data pipeline needs between full
rebuilds: apply a change set (upserts + deletes) to a keyed parquet
table and atomically swap in the new version. Plain-parquet
copy-on-write — the same model Delta/Iceberg implement with manifest
files, reduced to its engine-visible core:

- `merge_changes`: the pure relational MERGE — returns the new table
  state as a DataFrame (left-anti deletes, full-outer upsert against
  the change set; change rows win on key collision).
- `merge_into_parquet`: materialize that state next to the current
  version directory and flip a `_CURRENT` pointer file afterwards —
  readers resolve the pointer first, so a crashed writer leaves the
  previous version intact (write-new-then-flip, the public
  copy-on-write recipe).

Scale shape: ONE shuffle joining table x changes on the key (the
change set is usually the small side — broadcast when it fits); the
rewrite cost is the table scan + write, exactly what any copy-on-write
MERGE pays without file-level pruning metadata. Partition the table
path by a coarse key prefix and merge per-partition to bound rewrite
amplification at 100 TB (noted, not hidden).

No reference-repo parity: whisper_pandas is read-only; this backs the
§2.11 pipeline-engineering surface next to snapshot diff and SCD2.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CURRENT = "_CURRENT"
_LAST_BATCH = "_LAST_BATCH"
# Written into a version directory once it is complete, before the pointer
# flips to it; "_"-prefixed, so Spark's parquet reader skips it.
_COMMITTED = "_COMMITTED"


def _evolved_columns(
    table: DataFrame, changes: DataFrame, ignore: tuple[str, ...] = ()
) -> list[str]:
    """Validate add-only schema evolution: ``changes`` must carry every
    table data column with the IDENTICAL type and may add new columns.
    Returns the added column names (empty when schemas match). Dropping
    a column or changing a type is rejected — the Delta/Iceberg
    ``mergeSchema`` contract."""
    t = {f.name: f.dataType for f in table.schema.fields}
    c = {
        f.name: f.dataType
        for f in changes.schema.fields
        if f.name not in ignore
    }
    missing = sorted(set(t) - set(c))
    if missing:
        raise ValueError(
            f"changes lack table columns {missing}; MERGE schema "
            "evolution is add-only (dropping columns needs a rewrite)"
        )
    retyped = sorted(n for n in t if t[n] != c[n])
    if retyped:
        raise ValueError(
            "incompatible type change for columns "
            f"{[(n, str(t[n]), str(c[n])) for n in retyped]}"
        )
    return [f.name for f in changes.schema.fields if f.name not in t and f.name not in ignore]


def _backfill(table: DataFrame, changes: DataFrame, added: list[str]) -> DataFrame:
    """Null-backfill ``added`` columns (typed from ``changes``) onto
    ``table`` so both sides share the evolved schema, in changes order."""
    if not added:
        return table
    types = {f.name: f.dataType for f in changes.schema.fields}
    out = table
    for name in added:
        out = out.withColumn(name, F.lit(None).cast(types[name]))
    return out


def merge_changes(
    table: DataFrame,
    changes: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE semantics as a DataFrame: rows of ``changes`` replace
    same-key rows of ``table`` (update), new keys append (insert), and
    rows with ``delete_col = true`` remove the key (delete).

    ``changes`` must carry every table data column (same type) and may
    ADD columns — add-only schema evolution; pre-existing rows get NULL
    in the new columns. ``delete_col`` (if given) exists only in
    ``changes`` and never reaches the output. A key with both an upsert
    and a delete row keeps the upsert (deletion works by the key being
    anti-joined out of the table and contributing no upsert row).
    """
    ignore = (delete_col,) if delete_col is not None else ()
    added = _evolved_columns(table, changes, ignore)
    if delete_col is not None:
        upserts = changes.where(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = changes
    survivors = table.join(
        F.broadcast(changes.select(key_col)), key_col, "left_anti"
    )
    return _backfill(survivors, changes, added).unionByName(upserts)


def current_version_path(base: str) -> str | None:
    """Resolve the live version directory under ``base`` (pointer file),
    or None before the first merge."""
    ptr = Path(base) / _CURRENT
    if not ptr.exists():
        return None
    name = ptr.read_text().strip()
    return str(Path(base) / name)


def merge_changes_ordered(
    table: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
) -> DataFrame:
    """Sequence-aware MERGE: per key, the row with the HIGHEST
    ``seq_col`` wins — regardless of which side it came from, so
    applying change sets out of arrival order converges to the same
    state (the CDC requirement plain :func:`merge_changes` does not
    give: there, change rows win unconditionally and a late-delivered
    stale batch would regress newer table state).

    ``changes`` must carry every table column with the same type
    (``seq_col`` included — the table RETAINS each row's winning
    sequence number; deletions are carried as tombstone rows by the
    caller so a late lower-seq update cannot resurrect a deleted key)
    and may ADD columns (add-only schema evolution: prior-state rows get
    NULL there). Rows tied on (key, seq) resolve by the greatest full
    row (struct comparison over the remaining columns) — deterministic,
    and the row is picked ATOMICALLY, never stitched column-by-column
    from different inputs.

    One partial-agg shuffle on the key; no join.
    """
    added = _evolved_columns(table, changes)
    cols = list(changes.columns)
    others = [c for c in cols if c not in (key_col, seq_col)]
    both = _backfill(table, changes, added).select(*cols).unionByName(
        changes.select(*cols)
    )
    picked = both.groupBy(key_col).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in cols]),
            F.struct(F.col(seq_col), *[F.col(c) for c in others]),
        ).alias("__r")
    )
    return picked.select(*[F.col(f"__r.{c}").alias(c) for c in cols])


def merge_state(
    prior: DataFrame | None,
    changes: DataFrame,
    key_col: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """The table after applying ``changes`` to ``prior`` (None: no table
    yet) — :func:`merge_changes`, or :func:`merge_changes_ordered` when
    ``seq_col`` is given, with the first-version cases spelled out."""
    if seq_col is not None:
        # tombstones retained from day one; the change set itself
        # still reduces to one row per key (a raw log may carry
        # several changes for a key even in its first batch)
        return merge_changes_ordered(
            changes.limit(0) if prior is None else prior,
            changes,
            key_col,
            seq_col,
        )
    if prior is not None:
        return merge_changes(prior, changes, key_col, delete_col)
    if delete_col is not None:
        return changes.where(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    return changes


def merge_into_parquet(
    spark: SparkSession,
    base: str,
    changes: DataFrame,
    key_col: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
    extra_files: dict[str, str] | None = None,
) -> str:
    """Apply ``changes`` to the keyed parquet table rooted at ``base``
    and return the new version directory (one :func:`advance_version`
    step; old versions remain for time travel / rollback until vacuumed).

    ``seq_col=None`` (default): classic MERGE — change rows win
    unconditionally, ``delete_col`` rows drop their keys.
    ``seq_col`` given: sequence-aware CDC apply via
    :func:`merge_changes_ordered` — highest seq wins across ANY
    delivery order, and ``delete_col`` rows are retained as TOMBSTONES
    (read the live state with :func:`read_current_state`).

    ``extra_files`` (name -> content) are written into the new version
    directory BEFORE the pointer flips, so markers land atomically with
    the version they describe.
    """
    return advance_version(
        spark,
        base,
        lambda prior: merge_state(prior, changes, key_col, delete_col, seq_col),
        extra_files=extra_files,
    )


# -- versioned-table layout ---------------------------------------------------
#
# ``base/v<N>/`` holds full table versions and ``base/_CURRENT`` names the
# live one. Only the functions below know that layout.


def _version_dirs(root: Path) -> list[Path]:
    """Every ``v<N>`` directory under ``root``, oldest first."""
    return sorted(
        (d for d in root.glob("v*") if d.is_dir() and d.name[1:].isdigit()),
        key=lambda d: int(d.name[1:]),
    )


def _committed_versions(base: str) -> list[Path]:
    """The finished ``v<N>`` directories up to the live one, oldest first:
    the live one, and every older one holding the ``_COMMITTED`` marker.
    One numbered past the live one was never live and may belong to a
    writer still running; an unmarked one below it is a crashed writer's
    torn directory that a later commit stepped over. The vacuums neither
    count, delete nor read either kind. Versions written before the marker
    existed carry none, so they too are left in place."""
    cur = current_version_path(base)
    if cur is None:
        return []
    live = int(Path(cur).name[1:])
    return [
        d
        for d in _version_dirs(Path(base))
        if int(d.name[1:]) == live
        or (int(d.name[1:]) < live and (d / _COMMITTED).is_file())
    ]


def _commit_version(base: str, write: Callable[[Path], None]) -> str:
    """Fill the next version directory with ``write(new_dir)``, mark it
    ``_COMMITTED``, then atomically flip ``_CURRENT`` to it. The new
    number is past EVERY existing ``v<N>``: a directory the pointer does
    not name is never live (the pointer flips only after a full write),
    so a torn one left by a crashed writer is stepped over instead of
    colliding, and stays unmarked."""
    root = Path(base)
    root.mkdir(parents=True, exist_ok=True)
    versions = _version_dirs(root)
    new_dir = root / f"v{int(versions[-1].name[1:]) + 1 if versions else 0}"
    write(new_dir)
    (new_dir / _COMMITTED).touch()
    tmp = root / f"{_CURRENT}.tmp"
    tmp.write_text(new_dir.name)
    tmp.replace(root / _CURRENT)  # atomic pointer flip
    return str(new_dir)


def advance_version(
    spark: SparkSession,
    base: str,
    step: Callable[[DataFrame | None], DataFrame],
    batch: tuple[str, int] | None = None,
    extra_files: dict[str, str] | None = None,
) -> str:
    """Advance the versioned table at ``base`` by one step and return the
    live version directory: read the live version (None before the
    first), write ``step(prior)`` in full as the next version, then flip
    the pointer — readers see the old or the new table, never a torn mix.
    ``extra_files`` land in the new version directory before the flip.

    ``batch = (stream id, batch id)`` makes the step exactly-once for a
    ``foreachBatch`` stream: a ``_LAST_BATCH`` marker holding
    ``"<stream id>:<batch id>"`` is written into the new version before
    the flip, and a batch that the live version's marker already covers
    (same stream id, batch id at or below it) is skipped, leaving the
    table as it is. The stream id is the checkpoint directory — only a
    checkpoint makes batch ids durable, so a stream without one passes
    None and every batch is applied.
    """
    cur = current_version_path(base)
    if batch is not None and cur is not None:
        marker = Path(cur) / _LAST_BATCH
        if marker.exists():
            sid, _, last = marker.read_text().rpartition(":")
            if sid == batch[0] and int(last) >= batch[1]:
                return cur
    new_state = step(None if cur is None else spark.read.parquet(cur))
    files = dict(extra_files or {})
    if batch is not None:
        files[_LAST_BATCH] = f"{batch[0]}:{batch[1]}"

    def write(new_dir: Path) -> None:
        new_state.write.mode("errorifexists").parquet(str(new_dir))
        for name, content in files.items():
            (new_dir / name).write_text(content)

    return _commit_version(base, write)


def read_current_state(
    spark: SparkSession,
    base: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """The live, user-visible table: resolve the pointer, read the
    current version, and (for sequence-aware tables) hide tombstone
    rows and the bookkeeping columns."""
    cur = current_version_path(base)
    if cur is None:
        raise FileNotFoundError(f"no current version under {base}")
    df = spark.read.parquet(cur)
    if delete_col is not None and delete_col in df.columns:
        df = df.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    if seq_col is not None and seq_col in df.columns:
        df = df.drop(seq_col)
    return df


def vacuum_versions(base: str, keep_last: int = 2) -> list[str]:
    """Delete all but the newest ``keep_last`` version directories under
    *base* (the live one always survives), returning the removed paths.
    Time travel reaches back ``keep_last`` versions after a vacuum; the
    pointer file is untouched, so readers mid-flight on a RETAINED
    version are unaffected — only versions older than the retention
    window disappear (the copy-on-write vacuum contract). A directory
    numbered past the live one, or an unmarked (torn, or written before
    the ``_COMMITTED`` marker) one below it, is left alone and not
    counted."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _committed_versions(base)
    keep = {str(d) for d in versions[-keep_last:]}
    removed = []
    for d in versions:
        if str(d) not in keep:
            shutil.rmtree(d)
            removed.append(str(d))
    return removed


# -- partitioned copy-on-write MERGE (bounded rewrite amplification) --------
#
# The plain versioned MERGE above rewrites the WHOLE table per version —
# correct, but at 100 TB the rewrite amplification is the bill. The
# partitioned variant keeps a per-version _MANIFEST.json mapping every
# live partition value to the VERSION DIRECTORY that holds its current
# data: a merge rewrites only the partitions its change batch touches and
# re-points everything else at the prior versions' files (zero copy, zero
# I/O for untouched partitions) — the Delta/Iceberg manifest idea on
# plain parquet. The same write-new-then-flip pointer discipline makes
# every version atomic; `vacuum_partitioned` deletes only versions no
# retained manifest references.

_MANIFEST = "_MANIFEST.json"


def _unescape_part(name: str) -> str:
    """Invert Hive/Spark partition-directory escaping (``%XX`` → char).

    Spark writes partition directories through Hive's ``escapePathName``
    (``ExternalCatalogUtils.escapePathName``): characters that are unsafe
    in a path component (``/ : = % #`` quotes, control chars, …) become
    ``%XX`` hex escapes. The manifest keys partitions by their RAW value,
    so everything derived from on-disk directory names must be unescaped
    symmetrically — otherwise a value like ``"a/b"`` would be re-keyed
    under its escaped spelling after the first write and the next merge
    would miss the manifest lookup and silently drop the partition's
    prior data (round-6 advisory)."""
    out: list[str] = []
    i, n = 0, len(name)
    while i < n:
        hx = name[i + 1 : i + 3]
        if name[i] == "%" and len(hx) == 2 and all(
            c in "0123456789abcdefABCDEF" for c in hx
        ):
            out.append(chr(int(hx, 16)))
            i += 3
        else:
            out.append(name[i])
            i += 1
    return "".join(out)


def _part_dirs(data_dir, part_col: str) -> dict[str, str]:
    """Map RAW partition value -> on-disk directory for one version's
    ``data/`` dir, unescaping Hive-escaped directory names. Listing the
    (driver-local) version dir beats re-implementing Hive's escape table
    and hoping it matches what Spark wrote."""
    return {
        _unescape_part(d.name.split("=", 1)[1]): str(d)
        for d in data_dir.glob(f"{part_col}=*")
        if d.is_dir()
    }


def _read_manifest(version_dir: str) -> dict[str, str]:
    import json

    p = Path(version_dir) / _MANIFEST
    if not p.exists():
        raise FileNotFoundError(
            f"{version_dir} is not a partitioned-merge version (no {_MANIFEST})"
        )
    return json.loads(p.read_text())


def _read_parts(
    spark: SparkSession, base: str, manifest: dict[str, str], part_col: str,
    parts: list[str] | None = None,
) -> DataFrame | None:
    """Union the live data of ``parts`` (default: all) across the version
    dirs the manifest points at — one read per involved VERSION with an
    explicit subdir list + basePath, so the partition column
    reconstitutes and only the named directories are listed.

    Directory names are resolved by listing each version's ``data/`` and
    unescaping Hive-escaped components (``_part_dirs``) — never by
    re-escaping the raw value — so values needing escaping round-trip.
    Cross-version unions allow missing columns (null-backfill): after a
    schema-evolving merge, older versions lack the new columns."""
    wanted = manifest if parts is None else {
        p: v for p, v in manifest.items() if p in parts
    }
    by_version: dict[str, list[str]] = {}
    for pval, vname in wanted.items():
        by_version.setdefault(vname, []).append(pval)
    out = None
    for vname, pvals in sorted(by_version.items()):
        data = Path(base) / vname / "data"
        dirs = _part_dirs(data, part_col)
        missing = [pv for pv in pvals if pv not in dirs]
        if missing:
            raise FileNotFoundError(
                f"manifest names partitions {missing!r} absent from {data}"
            )
        paths = [dirs[pv] for pv in sorted(pvals)]
        df = spark.read.option("basePath", str(data)).parquet(*paths)
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )
    return out


def merge_into_parquet_partitioned(
    spark: SparkSession,
    base: str,
    changes: DataFrame,
    key_col: str,
    part_col: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
    max_touched_partitions: int = 10_000,
) -> str:
    """Partitioned MERGE: apply ``changes`` (which carry ``part_col``)
    rewriting ONLY the touched partitions; untouched partitions are
    re-pointed via the manifest. Same update/insert/delete (or
    sequence-aware tombstone) semantics as :func:`merge_into_parquet`,
    including add-only schema evolution (older versions' untouched
    partitions null-backfill the new columns at read — see
    :func:`_read_parts`); keys must not move between partitions
    (partition value is part of the key's identity — the standard
    partitioned-table contract). Null partition values are rejected.
    Returns the new version dir.

    ``changes`` is persisted for the duration of the call and evaluated
    in TWO actions (touched-partition listing, then the merge write).
    The listing is the one driver-side collect: it is bounded by
    ``max_touched_partitions`` (default 10 000 — a few hundred KB of
    strings) and the call raises above it rather than silently pulling
    an unbounded value set to the driver; a change batch touching more
    partitions than that should go through the unpartitioned MERGE.
    """
    import json

    cur = current_version_path(base)
    manifest = _read_manifest(cur) if cur is not None else {}

    changes.persist()
    try:
        touched_rows = (
            changes.select(part_col)
            .distinct()
            .limit(max_touched_partitions + 1)
            .collect()
        )
        if len(touched_rows) > max_touched_partitions:
            raise ValueError(
                f"change batch touches > {max_touched_partitions} "
                f"{part_col} partitions; raise max_touched_partitions or "
                "use the unpartitioned merge_into_parquet"
            )
        if any(r[part_col] is None for r in touched_rows):
            raise ValueError(
                f"null {part_col} partition values are not supported"
            )
        changed = {str(r[part_col]) for r in touched_rows}
        prior = (
            _read_parts(spark, base, manifest, part_col, changed)
            if any(p in manifest for p in changed)
            else None
        )
        new_state = merge_state(prior, changes, key_col, delete_col, seq_col)

        def write(new_dir: Path) -> None:
            new_state.write.mode("errorifexists").partitionBy(
                part_col
            ).parquet(str(new_dir / "data"))
            # partitions whose merged state is empty vanish from the
            # manifest (partitionBy writes no dir for them); directory
            # names are Hive-escaped by the writer, so unescape back to
            # RAW manifest keys
            new_manifest = {
                p: v for p, v in manifest.items() if p not in changed
            }
            for p in _part_dirs(new_dir / "data", part_col):
                new_manifest[p] = new_dir.name
            (new_dir / _MANIFEST).write_text(
                json.dumps(new_manifest, sort_keys=True)
            )

        return _commit_version(base, write)
    finally:
        changes.unpersist()


def read_current_state_partitioned(
    spark: SparkSession,
    base: str,
    part_col: str,
    delete_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Live state of a partitioned-merge table: manifest-resolved union
    of every partition's current data, tombstones and sequence
    bookkeeping hidden (same contract as :func:`read_current_state`)."""
    cur = current_version_path(base)
    if cur is None:
        raise FileNotFoundError(f"no current version under {base}")
    df = _read_parts(spark, base, _read_manifest(cur), part_col)
    if df is None:
        raise FileNotFoundError(f"empty manifest under {cur}")
    if delete_col is not None and delete_col in df.columns:
        df = df.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    if seq_col is not None and seq_col in df.columns:
        df = df.drop(seq_col)
    return df


def vacuum_partitioned(base: str, keep_last: int = 2) -> list[str]:
    """Vacuum for partitioned-merge tables: a version dir may only be
    deleted when NO retained manifest (the newest ``keep_last``, always
    including the live one) references it — unlike
    :func:`vacuum_versions`, age alone is not sufficient, because old
    versions keep serving untouched partitions. A directory numbered past
    the live one, or an unmarked (torn, or written before the
    ``_COMMITTED`` marker) one below it, is left alone, not counted and
    its manifest not read."""
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    root = Path(base)
    versions = _committed_versions(base)
    retained = {str(d) for d in versions[-keep_last:]}
    referenced: set[str] = set()
    for d in versions:
        if str(d) in retained:
            referenced.update(
                str(root / v) for v in _read_manifest(str(d)).values()
            )
    keep = retained | referenced
    removed = []
    for d in versions:
        if str(d) not in keep:
            shutil.rmtree(d)
            removed.append(str(d))
    return removed


# -- small-file compaction ----------------------------------------------------
#
# Copy-on-write tables accumulate small files: every merge writes its
# batch-sized output, and a partition touched by many small batches ends
# up as many small parquet files — the classic warehouse small-files
# problem (Delta OPTIMIZE / Iceberg rewrite_data_files). Compaction is a
# STATE-PRESERVING new version: same rows, fewer files, same pointer
# discipline (write-new-then-flip), so readers never see a torn mix and
# time travel keeps the fragmented versions until vacuum.


def compact_current(
    spark: SparkSession,
    base: str,
    target_files: int = 1,
) -> str:
    """Rewrite the CURRENT version of an (unpartitioned) versioned table
    as a new version with ``target_files`` parquet files. Returns the
    new version dir. State is bit-preserved (same rows); only layout
    changes."""
    if current_version_path(base) is None:
        raise FileNotFoundError(f"no current version under {base}")
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    return advance_version(
        spark, base, lambda prior: prior.coalesce(target_files)
    )


def compact_partitioned(
    spark: SparkSession,
    base: str,
    part_col: str,
    max_files_per_partition: int = 4,
) -> tuple[str | None, list[str]]:
    """Compact FRAGMENTED partitions of a partitioned-merge table: any
    live partition whose current data spans more than
    ``max_files_per_partition`` parquet files is rewritten (one file per
    partition) into a new version; every other partition re-points via
    the manifest exactly like an ordinary merge (zero copy). Returns
    ``(new_version_dir | None, compacted_partition_values)`` — None when
    nothing is fragmented (no new version is written at all).

    The rewrite bound is the same as a merge touching those partitions;
    vacuum_partitioned later reclaims the fragmented originals once no
    retained manifest references them."""
    import json

    cur = current_version_path(base)
    if cur is None:
        raise FileNotFoundError(f"no current version under {base}")
    manifest = _read_manifest(cur)
    root = Path(base)
    fragmented: list[str] = []
    for pval, vname in sorted(manifest.items()):
        data = root / vname / "data"
        dirs = _part_dirs(data, part_col)
        pdir = dirs.get(pval)
        if pdir is None:
            raise FileNotFoundError(
                f"manifest names partition {pval!r} absent from {data}"
            )
        n_files = len(list(Path(pdir).glob("*.parquet")))
        if n_files > max_files_per_partition:
            fragmented.append(pval)
    if not fragmented:
        return None, []

    frag_df = _read_parts(spark, base, manifest, part_col, fragmented)

    def write(new_dir: Path) -> None:
        frag_df.repartition(part_col).write.mode("errorifexists").partitionBy(
            part_col
        ).parquet(str(new_dir / "data"))
        written = set(_part_dirs(new_dir / "data", part_col))
        missing = set(fragmented) - written
        if missing:
            raise RuntimeError(
                f"compaction lost partitions {sorted(missing)!r}"
            )
        new_manifest = dict(manifest)
        for p in written:
            new_manifest[p] = new_dir.name
        (new_dir / _MANIFEST).write_text(
            json.dumps(new_manifest, sort_keys=True)
        )

    return _commit_version(base, write), sorted(fragmented)


def _infer_part_col(data_dir) -> str:
    """Partition column of a Hive-layout data dir (single-level): the
    name before ``=`` in its subdirectories. Raises if the layout is not
    a single consistent ``col=value`` level."""
    names = {
        d.name.split("=", 1)[0]
        for d in Path(data_dir).iterdir()
        if d.is_dir() and "=" in d.name
    }
    if len(names) != 1:
        raise ValueError(
            f"{data_dir} is not a single-level Hive partition layout "
            f"(saw partition columns {sorted(names)!r})"
        )
    return next(iter(names))


def change_feed(
    spark: SparkSession,
    base: str,
    from_version: int,
    to_version: int,
    key_col: str,
    value_cols: list[str] | None = None,
    part_col: str | None = None,
) -> DataFrame:
    """Change data feed between two retained versions of a versioned
    table (Delta's CDF read, on plain versioned parquet): (key, change)
    with change in {added, removed, changed} — computed by
    fingerprint-diffing the two snapshots (operators/diffing.py), so it
    needs no per-merge change log; any pair of retained (un-vacuumed)
    versions can be compared after the fact. ``value_cols`` defaults to
    the columns the versions share minus the key (pass explicitly
    across a schema-evolution boundary, where the column sets differ).

    One full-outer key join over the two snapshots — the from-scratch
    cost; a 100 TB deployment that needs per-merge feeds cheaply should
    persist the change batches themselves next to each version (they
    are the feed); this reader is the fallback that works for ANY pair
    of versions, including non-adjacent ones.

    Tables maintained by ``merge_into_parquet_partitioned`` store only
    the partitions TOUCHED by each merge under a version dir (untouched
    partitions are manifest re-pointed), so a version dir is a PARTIAL
    snapshot. Those versions are detected by their ``_MANIFEST.json``
    and resolved to the FULL snapshot via the manifest (``_read_parts``
    — one read per involved version, Hive-unescaped dirs, basePath set);
    ``part_col`` is inferred from the Hive layout when not given.
    Plain (unpartitioned-merge) versions are read directly as before."""
    from whisper_pandas_spark.operators.diffing import table_diff

    root = Path(base)
    snaps = []
    for v in (from_version, to_version):
        d = root / f"v{v}"
        if not (d.is_dir()):
            raise FileNotFoundError(
                f"version v{v} not present under {base} (vacuumed?)"
            )
        data = d / "data" if (d / "data").is_dir() else d
        if (d / _MANIFEST).is_file():
            manifest = _read_manifest(str(d))
            pc = part_col or _infer_part_col(data)
            snaps.append(_read_parts(spark, base, manifest, pc))
        else:
            snaps.append(spark.read.parquet(str(data)))
    return table_diff(snaps[0], snaps[1], key_col, value_cols)
