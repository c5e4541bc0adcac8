"""Candidate pairs of ids that share a key: the near-duplicate tier's one
pair mechanism.

Every near-dup operator reduces to "unordered id pairs that share a key":
MinHash band keys, shingles, hyperplane sign bits, perceptual-hash bit
blocks, winnowing fingerprints. Each operator builds its own keys and
runs its own verify step; the pairing between the two is written once
here.

* :func:`band_rows` explodes one row per band, carrying the input's
  columns beside ``(band, key)``.
* :func:`self_key_pairs` self-joins key rows on the key and keeps each
  unordered pair once as ``id_a < id_b``, either distinct or with the
  number of keys the two ids share.

Physical form: a sort-merge self-join. Both sides of the join are the
same projection of ``rows``, so the second exchange plans as a
``ReusedExchange`` and the key rows are computed once. Only
(key, id) rows shuffle, never the payload the caller verifies with. The
join is on a non-unique key, so a key held by D ids emits D·(D-1)/2
pairs; callers whose keys can be hot cap them before pairing (winnowing's
document-frequency cap, perceptual hashing's distinct hash values).

A null key never pairs: the equi-join does not match nulls.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_rows(df: DataFrame, keys: Sequence[Column]) -> DataFrame:
    """One row per band of every row of ``df``: its columns plus ``band``
    (the key's index in ``keys``, int) and ``key`` (``keys[band]``). All
    ``keys`` must have one type."""
    bands = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("band"), k.alias("key"))
                for b, k in enumerate(keys)
            ]
        )
    )
    return df.select(*df.columns, bands.alias("_bk")).select(
        *df.columns, F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key")
    )


def self_key_pairs(
    rows: DataFrame, key_cols: Sequence[str], id_col: str, count_as: str | None
) -> DataFrame:
    """Unordered pairs of ``id_col`` values that share all of ``key_cols``
    on some row -> ``(id_a, id_b)`` with ``id_a < id_b``.

    ``count_as=None`` returns each pair once. Otherwise the pair carries
    ``count_as``, the number of row pairs that matched: the number of
    shared keys when each (key, id) row occurs once."""
    a = rows.select(*key_cols, F.col(id_col).alias("id_a"))
    b = rows.select(*key_cols, F.col(id_col).alias("id_b"))
    pairs = a.join(b, list(key_cols)).filter(F.col("id_a") < F.col("id_b"))
    if count_as is None:
        return pairs.select("id_a", "id_b").distinct()
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias(count_as))
