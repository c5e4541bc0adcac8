"""Canned analytics queries over the span/trace tables (T1-T3, A6-A8, S6).

Re-expresses the reference's admin-API lake queries
(/root/reference/src/storage/iceberg.rs:183-218, observability/admin_api.rs:313-355)
as DataFrame plans. All are top-k or small-group aggregations: Spark plans
TakeOrderedAndProject for orderBy+limit (no full sort at scale), and the
aggregations are two-phase hash aggs.

The S6 'SQL-on-lake' surface (iceberg.rs:171-181) needs no wrapper here:
a caller registers a span frame as a temp view and runs ``spark.sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def slowest_traces(traces: DataFrame, n: int = 10) -> DataFrame:
    """T1: ORDER BY max_duration_ms DESC LIMIT n (iceberg.rs:183-193).
    trace_id is the deterministic tiebreaker (the reference has none)."""
    return (
        traces.select("trace_id", "service_name", "max_duration_ms", "span_count")
        .orderBy(F.desc("max_duration_ms"), F.asc("trace_id"))
        .limit(n)
    )


def recent_error_traces(traces: DataFrame, n: int = 10) -> DataFrame:
    """T2: errors ORDER BY timestamp DESC LIMIT n (iceberg.rs:195-205)."""
    return (
        traces.filter(F.col("has_error"))
        .select("trace_id", "service_name", "max_timestamp_ms", "error_count")
        .orderBy(F.desc("max_timestamp_ms"), F.asc("trace_id"))
        .limit(n)
    )


def service_stats(spans: DataFrame) -> DataFrame:
    """A6-A8: per-service span/trace counts, durations, errors
    (iceberg.rs:207-218). Exact countDistinct, for oracle parity; at
    10^12 spans ``approx_count_distinct`` is the sketch that avoids the
    exact-distinct shuffle."""
    return (
        spans.groupBy("service_name")
        .agg(
            F.count(F.lit(1)).alias("span_count"),
            F.countDistinct("trace_id").alias("trace_count"),
            F.avg("duration_ms").alias("avg_duration_ms"),
            F.max("duration_ms").alias("max_duration_ms"),
            F.sum(F.when(F.col("status_code") == 2, 1).otherwise(0)).alias(
                "error_count"
            ),
        )
        .orderBy(F.desc("span_count"), F.asc("service_name"))
    )


# the SLO percentiles the latency report computes, as p50/p95/p99 columns
LATENCY_PERCENTILES = (0.5, 0.95, 0.99)


def service_latency_percentiles(spans: DataFrame) -> DataFrame:
    """Per-service latency percentiles of span duration — the SLO numbers
    the reference's README/deployment docs state as targets (p99 < 10ms,
    README.md:446) computed over the lake instead of asserted. EXACT
    percentile (sort-based, linear interpolation — bit-identical to
    DuckDB's quantile_cont, so oracle-checkable). At 10^12 spans exact
    per-group percentile buffers each group's values; ``percentile_approx``
    is the fixed-size, map-side combinable sketch for that scale.
    """
    aggs = [
        F.round(F.expr(f"percentile(duration_ms, {p})"), 4).alias(
            f"p{round(p * 100)}"
        )
        for p in LATENCY_PERCENTILES
    ]
    return (
        spans.groupBy("service_name")
        .agg(F.count(F.lit(1)).alias("span_count"), *aggs)
        .orderBy("service_name")
    )
