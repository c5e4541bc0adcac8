"""Span compression: aggregate similar spans within a trace (A3-A5, F4-F6).

Re-expresses /root/reference/src/sampling/span_compression.rs as pure SQL:

* normalize_statement (:258-296): SQL-literal normalization — quoted strings
  and numbers -> '?', whitespace collapsed, uppercased. Vectorized
  regexp_replace chain, no UDF (F4).
* extract_operation_type (:230-255): db.operation attr -> 'db.query.{op}';
  else db.system + SELECT/INSERT/UPDATE/DELETE prefix sniff; else
  operation_name (F5).
* sql_patterns config rewrite (:260-277): substring/regex -> group_name (F6).
* grouping key (:130-142): (trace_id, service_name, operation_type,
  normalized_statement, parent_span_id).
* group stats (:50-121): count, total/mean/min/max duration, error_count,
  first/last timestamp, member span_ids.
* compressibility filter (:316-337): count >= min_count AND time-window
  <= window (A4 HAVING).
* remainder (:371-397): spans in no surviving group pass through unchanged —
  computed by recomputing the group key span-side and anti-joining on it
  (A5; avoids exploding original_span_ids).
* deterministic compressed span id (F9): xxhash64 of the group key replaces
  the reference's random id (a reproducibility bug we do not copy,
  span_compression.rs:364-368).

The groupBy key starts with trace_id, so this shares the pipeline's shuffle
key; at scale it is a second hash-agg over the kept traces only (the
reference also compresses only exported traces, evaluator.rs:403-459).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CompressionConfig:
    """Knobs from /root/reference/src/config.rs:270-330."""

    min_compression_count: int = 3
    window_seconds: int = 60
    # spans longer than this never compress
    max_span_duration_ms: ClassVar[int] = 60_000
    # (pattern, group_name): substring OR regex match -> named group (F6)
    sql_patterns: tuple = ()
    # True = reference semantics (compress within a trace,
    # span_compression.rs:130-142); False = cross-trace grouping (corpus-level
    # dedup of identical normalized statements)
    per_trace: bool = True


def normalize_statement(col: Column) -> Column:
    """F4: literals -> '?', collapse whitespace, uppercase (fully vectorized)."""
    s = F.regexp_replace(col, r"'[^']*'", "?")
    s = F.regexp_replace(s, r'"[^"]*"', "?")
    s = F.regexp_replace(s, r"\d+", "?")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return F.upper(s)


def operation_type(cfg: CompressionConfig) -> Column:
    """F5/F6: classify a span into its compression operation-type.

    Requires columns: operation_name, optionally attributes (map).
    """
    db_operation = F.col("attributes").getItem("db.operation")
    db_system = F.col("attributes").getItem("db.system")
    db_statement = F.col("attributes").getItem("db.statement")
    norm = normalize_statement(F.coalesce(db_statement, F.col("operation_name")))

    out = F.when(
        db_operation.isNotNull(), F.concat(F.lit("db.query."), db_operation)
    )
    # configured pattern table first-match-wins (F6)
    for pattern, name in cfg.sql_patterns:
        cond = norm.rlike(pattern) | norm.contains(pattern)
        out = out.when(db_statement.isNotNull() & cond, F.lit(name))
    for verb in ("SELECT", "INSERT", "UPDATE", "DELETE"):
        out = out.when(
            db_system.isNotNull() & norm.startswith(verb),
            F.concat(F.lit("db.query."), F.lit(verb.lower())),
        )
    return out.otherwise(F.col("operation_name"))


GROUP_KEY = ["trace_id", "service_name", "op_type", "norm_statement", "parent_span_id"]
GROUP_KEY_CROSS = ["service_name", "op_type", "norm_statement"]


def with_group_key(spans: DataFrame, cfg: CompressionConfig) -> DataFrame:
    df = spans
    if "attributes" not in df.columns:
        df = df.withColumn(
            "attributes", F.create_map().cast("map<string,string>")
        )
    return df.withColumns(
        {
            "op_type": operation_type(cfg),
            "norm_statement": normalize_statement(
                F.coalesce(
                    F.col("attributes").getItem("db.statement"),
                    F.col("operation_name"),
                )
            ),
        }
    )


def compress_spans(spans: DataFrame, cfg: CompressionConfig | None = None) -> dict:
    """-> {"compressed": group rows, "passthrough": untouched span rows}.

    compressed schema: GROUP_KEY + span_count, error_count, total/mean/min/max
    duration, first/last timestamp, original_span_ids, compressed_span_id.
    """
    cfg = cfg or CompressionConfig()
    key = GROUP_KEY if cfg.per_trace else GROUP_KEY_CROSS
    keyed = with_group_key(spans, cfg)

    compressible = keyed.filter(
        F.col("duration_ms") <= F.lit(cfg.max_span_duration_ms)
    )
    groups = (
        compressible.groupBy(*key)
        .agg(
            F.count(F.lit(1)).alias("span_count"),
            F.sum((F.col("status_code") == 2).cast("int")).alias("error_count"),
            F.sum("duration_ms").alias("total_duration_ms"),
            F.avg("duration_ms").alias("mean_duration_ms"),
            F.min("duration_ms").alias("min_duration_ms"),
            F.max("duration_ms").alias("max_duration_ms"),
            F.min("timestamp_ms").alias("first_timestamp_ms"),
            F.max("timestamp_ms").alias("last_timestamp_ms"),
            F.array_sort(F.collect_list("span_id")).alias("original_span_ids"),
        )
        # A4 HAVING (span_compression.rs:316-337)
        .filter(
            (F.col("span_count") >= F.lit(cfg.min_compression_count))
            & (
                F.col("last_timestamp_ms") - F.col("first_timestamp_ms")
                <= F.lit(cfg.window_seconds * 1000)
            )
        )
        .withColumn(
            "compressed_span_id",
            F.upper(
                F.format_string(
                    "%016X",
                    F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key]),
                )
            ),
        )
    )

    # A5 remainder: anti-join the COMPRESSIBLE subset on the recomputed key
    # (same expressions both sides). Long spans (duration > max) never joined
    # a group, so they must pass through unconditionally even when their key
    # matches a surviving group (span_compression.rs:371-397 computes the
    # remainder by compressed span_ids, which has the same property).
    surviving_keys = groups.select(
        *[F.col(c).alias(f"_k_{c}") for c in key]
    )
    remainder = compressible.join(
        surviving_keys,
        on=[
            F.col(c).eqNullSafe(F.col(f"_k_{c}")) for c in key
        ],  # null-safe: parent_span_id is null for roots
        how="left_anti",
    )
    long_spans = keyed.filter(
        F.col("duration_ms") > F.lit(cfg.max_span_duration_ms)
    )
    passthrough = remainder.unionByName(long_spans).drop(
        "op_type", "norm_statement"
    )
    return {"compressed": groups, "passthrough": passthrough}


def compression_export_projection(groups: DataFrame) -> DataFrame:
    """S10: compressed group -> export record with compression.* tags
    (datadog/client.rs:236-329). The HTTP sink is replaced by a table sink;
    this is the row shape parity."""
    return groups.select(
        F.col("trace_id"),
        F.col("compressed_span_id").alias("span_id"),
        F.col("parent_span_id"),
        F.col("service_name"),
        F.col("op_type").alias("operation_name"),
        F.col("first_timestamp_ms").alias("timestamp_ms"),
        F.col("total_duration_ms").alias("duration_ms"),
        (F.col("error_count") > 0).cast("int").alias("error"),
        F.create_map(
            F.lit("compression.span_count"), F.col("span_count").cast("string"),
            F.lit("compression.error_count"), F.col("error_count").cast("string"),
            F.lit("compression.mean_duration_ms"),
            F.format_number(F.col("mean_duration_ms"), 2),
            F.lit("compression.min_duration_ms"),
            F.col("min_duration_ms").cast("string"),
            F.lit("compression.max_duration_ms"),
            F.col("max_duration_ms").cast("string"),
            F.lit("compression.group_signature"), F.col("norm_statement"),
        ).alias("meta"),
    )
