"""Export-record projections (S9/S10) — the sink row shapes.

The reference POSTs DatadogSpan JSON batches (/root/reference/src/datadog/
client.rs:48-113); the Spark build replaces the HTTP sink with table sinks,
so what remains of the export path is the row-shape projection (the
reference's POST-sized chunking, evaluator.rs:443-450, is the table
writer's file sizing):

* S9  span -> export record (client.rs:192-234): ms -> ns timestamps, error
  flag from status_code==2, resource/meta maps.
* S10 compressed-group -> export record lives in
  operators.compression.compression_export_projection (client.rs:236-329).

Plus the buffer/observability counters (A10, src/state.rs:582-614):
per-status span counts and memory estimate analogs as a metrics DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def span_export_projection(spans: DataFrame, env: str = "production") -> DataFrame:
    """S9: BufferedSpan -> DatadogSpan-shaped record (client.rs:192-234).

    ms -> ns multiplication (F3), `error` int from status_code==2, service/
    resource naming, meta map with the span_kind tag.
    """
    return spans.select(
        F.col("trace_id"),
        F.col("span_id"),
        F.col("parent_span_id").alias("parent_id"),
        F.col("service_name").alias("service"),
        F.col("operation_name").alias("name"),
        F.col("operation_name").alias("resource"),
        (F.col("timestamp_ms") * 1_000_000).alias("start"),  # ms -> ns
        (F.col("duration_ms") * 1_000_000).alias("duration"),
        (F.col("status_code") == 2).cast("int").alias("error"),
        F.create_map(
            F.lit("env"), F.lit(env),
            F.lit("span.kind"), F.col("span_kind").cast("string"),
            F.lit("status.code"), F.col("status_code").cast("string"),
        ).alias("meta"),
    )


def buffer_stats(spans: DataFrame) -> DataFrame:
    """A10 (state.rs:582-614): per-status counts + byte-estimate metrics."""
    return spans.groupBy("status_code").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.countDistinct("trace_id").alias("trace_count"),
        # the reference estimates ~1KB/span (README.md:451-466)
        (F.count(F.lit(1)) * 1024).alias("est_bytes"),
    )
