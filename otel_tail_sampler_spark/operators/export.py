"""Export-record projections (S9/S10) — the sink row shapes.

The reference POSTs DatadogSpan JSON batches (/root/reference/src/datadog/
client.rs:48-113); the Spark build replaces the HTTP sink with table sinks,
so what remains of the export path is the row-shape projection:

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

# rows per export_batches batch
EXPORT_BATCH_SIZE = 200


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


def export_batches(records: DataFrame) -> DataFrame:
    """Chunking analog of evaluator.rs:443-450: assign a deterministic batch
    number per trace so a downstream sink can group rows into POST-sized
    batches. Batch id = rank of trace within its shuffle partition /
    EXPORT_BATCH_SIZE."""
    from pyspark.sql import Window

    # materialize the partition id BEFORE the window (the window's shuffle
    # changes spark_partition_id, so the raw expression would disagree with
    # the grouping downstream consumers see)
    with_pid = records.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy("trace_id", "span_id")
    return with_pid.withColumn(
        "export_batch",
        ((F.row_number().over(w) - 1) / F.lit(EXPORT_BATCH_SIZE)).cast("int"),
    ).withColumnRenamed("_pid", "export_partition")


def buffer_stats(spans: DataFrame) -> DataFrame:
    """A10 (state.rs:582-614): per-status counts + byte-estimate metrics."""
    return spans.groupBy("status_code").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.countDistinct("trace_id").alias("trace_count"),
        # the reference estimates ~1KB/span (README.md:451-466)
        (F.count(F.lit(1)) * 1024).alias("est_bytes"),
    )
