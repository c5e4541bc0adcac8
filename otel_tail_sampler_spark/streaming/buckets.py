"""The state bucket of the streaming state machines (``assemble_with_state``,
``dedup_stream``), computed here and nowhere else: each hashes its keys
into ``state_buckets`` buckets that key one state row each. Spark restores
its own state partitioning from a checkpoint, but the bucket hash follows
the live session, so the job that owns the checkpoint pins the count."""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.fs import read_marker, write_marker


def state_buckets(spark: SparkSession) -> int:
    # 2x the shuffle partitions, the knob that also sizes the state store
    return 2 * int(spark.conf.get("spark.sql.shuffle.partitions"))


def bucket_of(spark: SparkSession, *keys) -> Column:
    """The int state bucket of a row: the 64-bit xxHash of its ``keys``
    modulo the session's ``state_buckets``."""
    return F.pmod(F.xxhash64(*keys), F.lit(state_buckets(spark))).cast("int")


def pin_state_buckets(spark: SparkSession, ckpt: str) -> None:
    """Record the bucket count in the checkpoint on its first start; raise
    on a resume at another count, where a key's later rows would fold into
    another bucket's state row (a trace emitted split, a digest twice)."""
    n_buckets = state_buckets(spark)
    marker = os.path.join(ckpt, "_n_buckets.json")
    saved = read_marker(spark, marker)
    if saved is None:
        write_marker(spark, marker, {"n_buckets": n_buckets})
    elif saved["n_buckets"] != n_buckets:
        raise ValueError(
            f"streaming checkpoint {ckpt} was started with n_buckets="
            f"{saved['n_buckets']}, not {n_buckets} (2 x "
            "spark.sql.shuffle.partitions): resume with the same shuffle "
            "partitions, or delete the checkpoint and the output to start over"
        )
