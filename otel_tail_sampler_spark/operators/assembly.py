"""Trace assembly: spans -> one TraceSummary row per trace.

Re-expresses the reference's incremental TraceMetadata update
(/root/reference/src/storage/memory.rs:139-164, summary emit 230-269; same
logic in src/state.rs:237-258,494-519) as a hash aggregation. The reference's
running min/max/or/count/set update IS a partial aggregate — Spark's
two-phase (partial -> final) hash agg gives it for free.

Heavy-hitter skew (1% of traces with 20k spans, scripts/load_simulation.rs:52-55)
is handled two ways, selectable:

* default: rely on map-side partial aggregation — each input split emits at
  most one partial row per trace, so a 20k-span trace costs its reducer
  O(#splits), not O(#spans);
* ``salt_buckets=N``: explicit two-phase salted aggregation
  (groupBy(key, salt) -> groupBy(key)) for the collect_set-bearing plan,
  where partial state is not reduced map-side for high-cardinality sets.

The group key is the 128-bit trace id as the int64 pair (trace_k1,
trace_k2) both parsers emit: 16 fixed bytes, no string hashing in the
shuffle. Every TraceSummary producer (batch, salted, streaming session
windows) builds its rows from :func:`summary_aggs` + :func:`summary_columns`.

Root-span election is deterministic: the root (parent IS NULL) with the
smallest (timestamp_ms, span_id) wins — the reference is order-dependent here
(memory.rs:158-160 last-wins vs state.rs:499-504 first-wins); we pick one rule
and encode it via min(struct(ts, span_id)).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.parser import TRACE_KEY, hex_from_keys


def _err() -> Column:
    return (F.col("status_code") == 2).cast("int")


def _root_key() -> Column:
    # struct min => deterministic (min ts, then min span_id) root election
    return F.when(
        F.col("parent_span_id").isNull(),
        F.struct(
            F.col("timestamp_ms").alias("ts"), F.col("span_id").alias("sid")
        ),
    )


def summary_aggs(svc: Column, op: Column, over: WindowSpec | None = None) -> list[Column]:
    """The TraceSummary aggregates over a span frame, for any grouping that
    includes the trace key. ``svc``/``op`` are the service and operation
    name columns (the streaming job passes undecoded code-point CSVs).
    ``over`` evaluates them as window aggregates instead, so every span row
    carries its trace's summary (the one-pass route,
    operators.routing.route_spans).

    service_name comes from the trace's first span (memory.rs:250-254):
    ``_first`` is the (ts, span_id)-min struct carrying it; ``_root`` is the
    root election. Both are resolved by :func:`summary_columns`."""

    def agg(c: Column) -> Column:
        return c if over is None else c.over(over)

    return [
        agg(
            F.min(
                F.struct(
                    F.col("timestamp_ms").alias("ts"),
                    F.col("span_id").alias("sid"),
                    svc.alias("svc"),
                )
            )
        ).alias("_first"),
        agg(F.count(F.lit(1))).alias("span_count"),
        agg(F.max(_err())).cast("boolean").alias("has_error"),
        agg(F.sum(_err())).alias("error_count"),
        agg(F.max("duration_ms")).alias("max_duration_ms"),
        agg(F.min("timestamp_ms")).alias("min_timestamp_ms"),
        agg(F.max("timestamp_ms")).alias("max_timestamp_ms"),
        F.array_sort(agg(F.collect_set(op))).alias("operations"),
        agg(F.min(_root_key())).alias("_root"),
    ]


def summary_columns(
    decode: Callable[[Column], Column] | None = None,
) -> list[Column | str]:
    """Final TraceSummary projection over :func:`summary_aggs`' output. The
    hex trace_id is derived here, once per TRACE (O(traces), not O(spans)).
    ``decode`` maps the aggregated name payloads to strings (applied after
    the aggregation, once per distinct value); the operation set is
    re-sorted on the decoded strings."""
    svc, ops = F.col("_first.svc"), F.col("operations")
    if decode is not None:
        # sort the DECODED strings: CSV order and decoded order differ
        # ("100" < "65" as strings)
        svc, ops = decode(svc), F.array_sort(F.transform(ops, decode))
    return [
        *TRACE_KEY,
        hex_from_keys(F.col("trace_k1"), F.col("trace_k2")).alias("trace_id"),
        svc.alias("service_name"),
        "span_count", "has_error", "error_count",
        "max_duration_ms", "min_timestamp_ms", "max_timestamp_ms",
        ops.alias("operations"),
        F.col("_root.sid").alias("root_span_id"),
    ]


def assemble_traces(spans: DataFrame, salt_buckets: int | None = None) -> DataFrame:
    """spans -> TraceSummary (one row per trace). A1 of SURVEY.md §2.4.

    ``salt_buckets``: None = single two-phase hash agg (map-side combine),
    an int = explicit salted two-phase plan.
    """
    if salt_buckets and salt_buckets > 1:
        return _assemble_salted(spans, salt_buckets)
    return (
        spans.groupBy(*TRACE_KEY)
        .agg(*summary_aggs(F.col("service_name"), F.col("operation_name")))
        .select(*summary_columns())
    )


def _assemble_salted(spans: DataFrame, salt_buckets: int) -> DataFrame:
    """Explicit two-phase salted aggregation for heavy-hitter traces.

    Phase 1 runs :func:`summary_aggs` per (trace key, salt) — a 20k-span
    trace is split across ``salt_buckets`` reducers; phase 2 merges the
    <=salt_buckets partial rows per trace. Algebra: min/max/sum merge
    trivially; sets merge via flatten+array_distinct; root/first elections
    merge via min of the partial struct minima.
    """
    salted = spans.withColumn(
        "_salt", F.pmod(F.xxhash64("span_id"), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*TRACE_KEY, "_salt").agg(
        *summary_aggs(F.col("service_name"), F.col("operation_name"))
    )
    final = partial.groupBy(*TRACE_KEY).agg(
        F.min("_first").alias("_first"),
        F.sum("span_count").alias("span_count"),
        F.max("has_error").alias("has_error"),
        F.sum("error_count").alias("error_count"),
        F.max("max_duration_ms").alias("max_duration_ms"),
        F.min("min_timestamp_ms").alias("min_timestamp_ms"),
        F.max("max_timestamp_ms").alias("max_timestamp_ms"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("operations")))
        ).alias("operations"),
        F.min("_root").alias("_root"),
    )
    return final.select(*summary_columns())
