"""Deterministic, engine-portable hashing primitives.

The reference samples with ``fastrand::f64() < rate``
(/root/reference/src/sampling/policies.rs:201,242) — non-reproducible, so
per-sink counts could never match run-to-run (SURVEY.md §7.4.2). We replace it
with seeded hash-sampling and md5-ordered ranking. Every such order reads one
key, chosen because md5 is bit-identical in Spark and DuckDB, so oracle SQL
can reproduce every value exactly:

* ``hash_key`` — md5(key||'|'||seed) as 32 hex digits: the order key of
  every deterministic sample, rank and shard in the library. DuckDB:
  md5(key || '|' || seed).
* ``hash_frac`` — int(hash_key[:8 hex], 16) / 2^32 in [0, 1). DuckDB
  equivalent (used in oracle_sql):
  ('0x' || substring(md5(key || '|' || seed), 1, 8))::bigint / 4294967296.0
* ``portable_hash64`` — the first 15 hex digits of the same key as a 60-bit
  int (fingerprints, LSH).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_32 = 4294967296.0


def hash_key(key: Column | str, seed: str) -> Column:
    """md5(key || '|' || seed) as 32 lowercase hex digits."""
    key = F.col(key) if isinstance(key, str) else key
    return F.md5(F.concat_ws("|", key, F.lit(seed)))


def hash_frac(key: Column | str, seed: str) -> Column:
    hex8 = F.substring(hash_key(key, seed), 1, 8)
    return F.conv(hex8, 16, 10).cast("long") / F.lit(TWO_32)


def portable_hash64(col: Column | str, seed: str = "") -> Column:
    """md5-derived 60-bit int, identical in Spark/DuckDB (fingerprints, LSH)."""
    hex15 = F.substring(hash_key(col, seed), 1, 15)
    return F.conv(hex15, 16, 10).cast("long")
