"""Broadcast-joined lookup enrichment (J4) + exported-manifest dedup (J2).

J4 re-expresses the reference's resource->span service stamping
(/root/reference/src/decoder.rs:50-66) generalized to a dimension lookup: a
small service dimension broadcast-joined onto spans or traces. ``broadcast()``
is explicit — at 10^12 rows the dim must NEVER shuffle the fact side.

J2 replaces Redis ``exported:{trace_id}`` TTL keys
(/root/reference/src/sampling/evaluator.rs:358-401): a persisted manifest of
already-exported trace_ids, left-anti-joined against the decided table so
re-runs never re-export. At scale the manifest is itself big, so the anti-join
shuffles on trace_id — the pipeline's standing shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.tables import local_table


def service_dimension(spark: SparkSession) -> DataFrame:
    """Deterministic tiny service dim (tier + owner + cost-center)."""
    from otel_tail_sampler_spark import SPAN_SERVICES

    rows = [
        (
            s,
            "tier-1" if i < 3 else ("tier-2" if i < 6 else "tier-3"),
            f"team-{chr(ord('a') + i)}",
            100 + 10 * i,
        )
        for i, s in enumerate(SPAN_SERVICES)
    ]
    return local_table(
        spark,
        rows,
        "service_name string, service_tier string, owner string, cost_center int",
    )


def enrich_with_dimension(facts: DataFrame, dim: DataFrame) -> DataFrame:
    """facts ⟕ broadcast(dim) on ``service_name`` (left join) — never
    shuffles the fact side."""
    return facts.join(F.broadcast(dim), "service_name", "left")


def dedup_against_exported(
    decided: DataFrame,
    exported: DataFrame,
    ttl_ms: int | None = None,
    now_ms: int | None = None,
) -> DataFrame:
    """J2: drop traces whose trace_id is already in the exported manifest.

    ``ttl_ms`` reproduces the Redis SETEX expiry of the reference
    (``exported:{trace_id}`` keys live export_ttl_seconds,
    /root/reference/src/sampling/evaluator.rs:358-380): manifest entries
    stamped before ``now_ms - ttl_ms`` no longer suppress re-export.
    ``now_ms`` must be passed explicitly — the operator stays deterministic
    and therefore oracle-checkable; wall-clock defaults are the caller's
    business, never the plan's. The TTL filter prunes the manifest BEFORE
    the anti-join shuffle, so an aged-out manifest costs nothing.
    """
    m = exported
    if ttl_ms is not None:
        if now_ms is None:
            raise ValueError("ttl_ms requires an explicit now_ms (determinism)")
        m = m.filter(
            F.col("exported_at_ms").isNull()  # unstamped rows never expire
            | (F.col("exported_at_ms") >= F.lit(now_ms - ttl_ms))
        )
    return decided.join(m.select("trace_id"), "trace_id", "left_anti")


def mark_exported(decided: DataFrame, exported_at_ms: int) -> DataFrame:
    """Manifest rows ``(trace_id, exported_at_ms)`` to write after a
    successful keep-sink commit. ``exported_at_ms`` stamps the batch
    (explicit for determinism) so ``dedup_against_exported(ttl_ms=...)``
    can expire it."""
    return decided.filter(F.col("decision") == "keep").select(
        "trace_id", F.lit(exported_at_ms).cast("long").alias("exported_at_ms")
    )
