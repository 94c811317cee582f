"""The engine's cross-engine hash family: md5 prefixes read as integers.

One format — the first *n* hex chars of ``md5(s)``, read as a
non-negative BIGINT — written in each engine's form:

- Spark  : ``cast(conv(substring(md5(s), 1, n), 16, 10) as bigint)``
- DuckDB : ``('0x' || substr(md5(s), 1, n))::BIGINT``
- Python : ``int(hashlib.md5(s.encode()).hexdigest()[:n], 16)``

All three agree bit for bit on any UTF-8 string (``n <= 15`` keeps the
value under 2^60, inside a signed BIGINT), and the Spark and DuckDB forms
map a NULL input to NULL. That agreement is what lets the MinHash,
SimHash, winnow, sketch, sampling and Bloom oracles compare values, not
only row counts. No other module converts an md5 to an integer; each
call site builds its own key string (prefix, seed, separator) and hands
it here. ``tests/test_hashing.py`` pins the cross-form contract and the
single-owner rule.

Widths in use: 15 hex chars (60 bits, :func:`hash64`), 8 (32 bits,
:func:`base_hash32` and the sampling buckets), 7 (the token hash of the
rolling document fingerprint) and 1 (the random-projection sign).

Scale note: md5-per-value is JVM-side whole-stage-codegen work (no Python
round trip). At 100 TB, ~K permutations × shingles per doc is the dominant
CPU cost of MinHash; it is embarrassingly parallel, shuffle-free (all
narrow, per-row), and beats any Python UDF path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

#: md5 hex chars of the 60-bit hash (15 chars × 4 bits).
HASH_HEX_CHARS = 15


def md5_int(s: F.Column, n: int) -> F.Column:
    """Spark form: the first *n* md5 hex chars of *s* as a BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, n), 16, 10).cast("bigint")


def duck_md5_int(s_sql: str, n: int) -> str:
    """DuckDB form of :func:`md5_int` over the SQL expression *s_sql*."""
    return f"('0x' || substr(md5({s_sql}), 1, {n}))::BIGINT"


def py_md5_int(s: str, n: int) -> int:
    """Python form of :func:`md5_int` (UTF-8 encoded, like both engines)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:n], 16)


def hash64(s: F.Column) -> F.Column:
    """60-bit hash of a string column."""
    return md5_int(s, HASH_HEX_CHARS)


def seeded_hash64(s: F.Column, seed: int | str) -> F.Column:
    """Seeded member of the family: ``hash64('{seed}:' || s)``."""
    return hash64(F.concat(F.lit(f"{seed}:"), s))


def keyed_hash64(tag: str, value: str) -> F.Column:
    """The sketch key hash (HLL, KMV, CMS, Bloom bits, Bloom file index):
    ``hash64('{tag}:' || string(value))`` for the column named *value*.
    ``concat_ws`` skips a NULL value, so NULL hashes as the bare tag."""
    return hash64(F.concat_ws(":", F.lit(tag), F.col(value).cast("string")))


def base_hash32(s: F.Column) -> F.Column:
    """32-bit base hash — one md5 per value, MinHash permutations are
    arithmetic on top."""
    return md5_int(s, 8)


def duck_base_hash32(s_sql: str) -> str:
    """DuckDB twin of :func:`base_hash32`."""
    return duck_md5_int(s_sql, 8)
