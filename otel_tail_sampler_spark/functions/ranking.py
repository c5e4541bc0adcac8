"""Exact top-N per key with no single-task hot key.

A window over a bare low-cardinality key funnels every row of a hot key
through one task (AQE skew handling applies to joins and aggregations,
not windows). ``top_per_key`` ranks in two levels instead:

1. salt level: rank within (key, salt), salt =
   ``pmod(xxhash64(order), SALT_BUCKETS)``. A row ranked > ``limit``
   inside ANY salt bucket already has ``limit`` same-key rows before it
   in the order, so it is provably outside the key's global top-N and is
   eliminated without ever co-locating the whole key.
2. exact level: the survivors (<= ``limit * SALT_BUCKETS`` per key) get
   the global per-key rank. This window's input is bounded by the limit,
   not by the key's row count.

The result is exactly the global top-N and independent of partitioning.
``F.row_number`` ranks rows; ``F.dense_rank`` gives rows that tie on the
order (every span row of one trace) one rank, and as tied rows share a
salt they share it at both levels, landing together in the top or not.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 64


def top_per_key(
    df: DataFrame, key: str, order: list[Column], limit: int, rank
) -> tuple[DataFrame, Callable[[], DataFrame]]:
    """-> (top, rest): the rows ``rank`` (``F.row_number`` or
    ``F.dense_rank``) places at or below ``limit`` within their ``key``
    in ``order``, and a function building every other row (five eagerly
    analysed operations: ~20 ms on the driver that ``stratified_sample``,
    which keeps only ``top``, does not pay). Both keep ``df``'s columns."""
    aux = ["_salt", "_r1", "_r2"]
    w1 = Window.partitionBy(key, "_salt").orderBy(*order)
    lvl1 = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*order), F.lit(SALT_BUCKETS))
    ).withColumn("_r1", rank().over(w1))
    w2 = Window.partitionBy(key).orderBy(*order)
    lvl2 = lvl1.filter(F.col("_r1") <= limit).withColumn("_r2", rank().over(w2))
    top = lvl2.filter(F.col("_r2") <= limit).drop(*aux)

    def rest() -> DataFrame:
        return (
            lvl1.filter(F.col("_r1") > limit)
            .drop(*aux)
            .unionByName(lvl2.filter(F.col("_r2") > limit).drop(*aux))
        )

    return top, rest
