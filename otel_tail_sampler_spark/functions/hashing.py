"""Deterministic, engine-portable hashing primitives.

The reference samples with ``fastrand::f64() < rate``
(/root/reference/src/sampling/policies.rs:201,242) — non-reproducible, so
per-sink counts could never match run-to-run (SURVEY.md §7.4.2). We replace it
with seeded hash-sampling. Both hashes here are md5-based, chosen because md5 is
bit-identical in Spark and DuckDB, so oracle SQL can reproduce every value
exactly:

* ``hash_frac`` — frac(key, seed) = int(md5(key||'|'||seed)[:8 hex], 16) / 2^32
  in [0, 1). DuckDB equivalent (used in oracle_sql):
  ('0x' || substring(md5(key || '|' || seed), 1, 8))::bigint / 4294967296.0
* ``portable_hash64`` — the first 15 hex digits of the same md5 as a 60-bit
  int (fingerprints, LSH).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TWO_32 = 4294967296.0


def hash_frac(key: Column | str, seed: str) -> Column:
    key = F.col(key) if isinstance(key, str) else key
    hex8 = F.substring(F.md5(F.concat_ws("|", key, F.lit(seed))), 1, 8)
    return F.conv(hex8, 16, 10).cast("long") / F.lit(TWO_32)


def portable_hash64(col: Column | str, seed: str = "") -> Column:
    """md5-derived 60-bit int, identical in Spark/DuckDB (fingerprints, LSH)."""
    col = F.col(col) if isinstance(col, str) else col
    hex15 = F.substring(F.md5(F.concat_ws("|", col, F.lit(seed))), 1, 15)
    return F.conv(hex15, 16, 10).cast("long")
