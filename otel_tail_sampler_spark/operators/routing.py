"""Route every span to its trace's sink + the decision metrics, in one pass.

Re-expresses the evaluator's export flow (/root/reference/src/sampling/
evaluator.rs:241-336 — buffer a trace's spans, decide once, export the kept
ones, account) as one window over the trace key and a single-pass
partitioned write:

    routed = spans + summary OVER (trace key, parse_ok)  # one exchange, no join
                   -> decide() per row                   # narrow
    write routed partitioned by decision  (keep / drop / overflow / malformed)
                           and bucket      (the exchange's partition,
                                            Spark's bucket id on the key)

The window is the reference's own model (BufferedSpan/TraceMetadata,
SURVEY.md §1.1): each span row carries its trace's summary, so the
decision lands on the spans where they are and the wide token payload is
shuffled once, next to the decision inputs. There is no per-trace
decision table to join back on the non-unique trace key, nothing to cache
and no second scan. A window holds one trace in one task, and AQE does not
split skewed windows: a trace past Spark's in-memory window buffer (4,096
rows) spills to disk and is still routed whole.

Metrics (A9, src/observability/metrics.rs:20-58): one parse-ok row per trace
is marked (``REP``), so the sink write's Observation counts traces and
per-(policy, decision) traces next to the per-sink rows
(plans.pipeline.run_and_write) — the per-sink aggregate-count parity
artifact of the north rule. :func:`decision_metrics` gives the same
per-(policy, decision) trace counts over a one-row-per-trace frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.assembly import summary_aggs, summary_columns
from otel_tail_sampler_spark.operators.force_rules import force_columns, span_flag_aggs
from otel_tail_sampler_spark.operators.parser import SPAN_FIELDS, TRACE_KEY
from otel_tail_sampler_spark.operators.policies import SamplerConfig, decide

DROP_SINK = "drop"
DROP_POLICY = "no_policy_matched"
# true on one parse-ok row per trace (its smallest doc_id), false on its
# other rows, null on malformed rows
REP = "_rep"


def route_spans(
    spans: DataFrame, cfg: SamplerConfig, force_rules: list[dict] | None = None
) -> DataFrame:
    """Attach its trace's (decision, decision_policy) to every span row.

    ``spans`` carries the trace key pair, ``parse_ok``, the parsed span
    fields the decision reads (parser output, gated by parse_ok) and any
    passthrough columns (``tokens`` and the other input columns). The
    result is the passthrough columns with the key first, then
    ``parse_ok``, trace_id, decision, decision_policy and ``REP``. ``trace_id`` is null on
    default drops and malformed rows. ``force_rules`` arrive active and
    sorted by priority (force_rules.active_rules, at the run's clock).

    The summary aggregates run as windows over (trace key, parse_ok):
    malformed rows (parse_ok=false) share no window with a real trace,
    even when their junk key slots equal its key, so they never change
    its summary; decide() routes them to the ``malformed`` sink instead
    of aborting or vanishing. Catalyst drops every window aggregate that
    no policy, force rule or rate-limit key reads.
    """
    rules = force_rules or []
    by_trace = Window.partitionBy(*TRACE_KEY, "parse_ok").orderBy("doc_id")
    whole = by_trace.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fields = {n for n, _ in SPAN_FIELDS} - {*TRACE_KEY, "parse_ok"}
    passthrough = [c for c in spans.columns if c not in fields]

    rest = [c for c in passthrough if c not in TRACE_KEY]
    summary = spans.select(
        *passthrough,
        *summary_aggs(F.col("service_name"), F.col("operation_name"), over=whole),
        *span_flag_aggs(rules, spans, over=whole),
        # one comparison, not a conjunction: a filter on REP then stays
        # above the window, so a plan that reads both the routed rows and
        # their REP rows reuses one exchange instead of a second pass
        (F.row_number().over(by_trace) == F.when(F.col("parse_ok"), 1)).alias(REP),
    )
    traces = summary.select(
        *rest,
        *summary_columns(),
        *[c for c in summary.columns if c.startswith("_fr_span_")],
        REP,
    )
    if rules:
        traces = traces.withColumns(force_columns(rules, traces))

    decided = decide(traces, cfg)
    interesting = F.col("parse_ok") & (
        (F.col("decision") != DROP_SINK) | (F.col("decision_policy") != DROP_POLICY)
    )
    return decided.select(
        *TRACE_KEY,
        *rest,
        F.when(interesting, F.col("trace_id")).alias("trace_id"),
        "decision",
        "decision_policy",
        REP,
    )


def decision_metrics(decided: DataFrame) -> DataFrame:
    """Per-(policy, decision) trace counts — tail_sampling_traces_* parity."""
    return (
        decided.groupBy("decision_policy", "decision")
        .agg(F.count(F.lit(1)).alias("trace_count"))
        .withColumnRenamed("decision", "sink")
    )


def write_routed(
    routed: DataFrame,
    out_dir: str,
    day_partition: bool = False,
    dynamic: bool = False,
) -> None:
    """Single-pass fan-out: one partitioned write, every sink.

    Writing ``partitionBy('decision', 'bucket')`` produces keep/ drop/
    overflow/ malformed/ directories in one job instead of one filtered
    write per sink (one scan, not four), each split by the ``bucket``
    column (plans.checkpoint.bucket_col: Spark's bucket id on the trace
    key, which is the route's own shuffle partition and the silver table's
    bucket, so one task writes all of a bucket: one file per sink and
    bucket). Iceberg deployments write through
    ``sources.iceberg.write_routed_iceberg`` instead.

    ``day_partition=True`` adds the reference's time dimension
    (``day(timestamp_ms)``, iceberg.rs:317-334) between the two: the day
    is derived JVM-side from the token header slots (parser.day_expr — the
    routing path stays Arrow-free), so every time-ranged sink read gets
    partition pruning instead of a full scan. Rows without a decodable
    timestamp (malformed) land in the null default partition of their
    sink.

    The overwrite mode is pinned at this write: static replaces the whole
    directory; ``dynamic=True`` (a resume) replaces only the partitions
    this write produces, and keeps the buckets committed before.
    """
    df, cols = routed, ["decision", "bucket"]
    if day_partition:
        from otel_tail_sampler_spark.operators.parser import day_expr

        df = routed.withColumn("day", day_expr(F.col("tokens")))
        cols = ["decision", "day", "bucket"]
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy(*cols)
        .parquet(out_dir)
    )
