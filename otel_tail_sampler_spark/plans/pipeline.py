"""The end-to-end bounded tail-sampling job (the flagship DAG).

Stage layout (SURVEY.md §3.2 re-expression):

    spans   = read(tokenized).parse()                      # narrow, JVM only
    traces  = assemble_traces(spans)                       # shuffle(trace key)
    decided = decide(traces, cfg)  [+ force rules]         # narrow
    routed  = spans  JOIN  decided  ON (trace_k1, trace_k2) # broadcast/shuffle
    metrics = per-policy / per-sink counts                 # tiny agg
    write keep/drop/overflow + metrics                     # partitioned write

Replaces the reference's evaluator loop (/root/reference/src/sampling/
evaluator.rs:150-336) with one deterministic DAG. ``run_pipeline`` is the
only builder of that DAG: ``run_and_write`` writes it, and
plans.checkpoint.run_resumable runs it over the not-yet-committed buckets.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.tables import local_table
from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.enrichment import mark_exported
from otel_tail_sampler_spark.operators.parser import (
    TRACE_KEY,
    parse_spans_jvm,
    with_routing_key,
)
from otel_tail_sampler_spark.operators.policies import SamplerConfig, decide
from otel_tail_sampler_spark.operators.routing import (
    DECISION_COLS,
    decision_metrics,
    route_spans,
    write_routed,
)


@dataclass
class PipelineResult:
    spans: DataFrame
    traces: DataFrame
    decided: DataFrame  # full TraceSummary + policy flags (lazy, unpersisted)
    decisions: DataFrame  # slim (trace key, decision, policy), persisted
    routed: DataFrame


TOKENIZED_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def read_tokenized(spark: SparkSession, path: str) -> DataFrame:
    """Bounded source scan (S1/S4). Parquet dirs are the native bronze;
    ``.orc`` reads the ORC columnar format (bundled reader — same
    vectorized scan + predicate pushdown class as parquet); ``.jsonl``/
    ``.json`` loads JSON-lines interchange dumps with the schema ENFORCED
    (never inferred — inference would scan the data twice and silently
    widen int32 tokens to long); anything else is treated as an Iceberg
    table identifier (format('iceberg'), feature-gated). Avro is NOT
    accepted: the spark-avro datasource module is absent from this
    distribution (same gate class as Iceberg/Kafka; probed 2026-08-17)."""
    if path.endswith((".jsonl", ".json")):
        return spark.read.schema(TOKENIZED_DDL).json(path)
    if path.endswith(".orc"):
        return spark.read.orc(path)
    if path.endswith(".parquet") or os.path.isdir(path):
        return spark.read.parquet(path)
    return spark.read.format("iceberg").load(path)


def run_pipeline(
    spark: SparkSession,
    input_path: str | DataFrame,
    cfg: SamplerConfig | None = None,
    force_rules: list[dict] | None = None,
    salt_buckets: int | str | None = None,
) -> PipelineResult:
    """Build the flagship DAG over ``input_path`` (a path or a tokenized
    DataFrame). The decode is the whole-stage-codegen expression parser,
    so the DAG has ZERO Python stages. ``decisions`` is persisted: the
    caller owns it and unpersists it once the sinks are written."""
    cfg = cfg or SamplerConfig()
    tokenized = (
        input_path
        if isinstance(input_path, DataFrame)
        else read_tokenized(spark, input_path)
    )

    # Two parse projections of the same scan:
    #  * assembly side: all span fields, the wide token column decoded
    #    into nothing (dropped inside the parse projection)
    #  * routing side: trace keys only, tokens pass through untouched
    # This is the metadata-first split — the wide payload only ever moves
    # through the route stage; Catalyst prunes each side's decode itself.
    full = parse_spans_jvm(tokenized.select("tokens"), keep_tokens=False)
    spans = with_routing_key(tokenized)  # pure JVM: no Arrow roundtrip

    # malformed rows (parse_ok=false) never reach assembly; they route to the
    # 'malformed' sink inside route_spans
    good = full.filter(F.col("parse_ok"))
    traces = assemble_traces(good, salt_buckets=salt_buckets)

    if force_rules:
        from otel_tail_sampler_spark.operators.force_rules import apply_force_rules

        traces = apply_force_rules(traces, good, force_rules)

    decided = decide(traces, cfg)
    # Persist ONLY the slim projection: persisting the full summary would
    # force the build side to materialize every aggregate (collect_set,
    # struct-mins, string decode) that Catalyst otherwise prunes to the 3
    # aggregates the decision needs. Slim = megabytes at any trace count,
    # reused by the route join build side and the metrics action.
    decisions = decided.select(*TRACE_KEY, *DECISION_COLS).persist()
    routed = route_spans(spans, decisions)
    return PipelineResult(
        spans=spans, traces=traces, decided=decided, decisions=decisions,
        routed=routed,
    )


SINK_NAMES = ("keep", "drop", "overflow", "malformed")


def run_and_write(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: SamplerConfig | None = None,
    day_partition: bool = False,
    **kw,
) -> dict[str, DataFrame]:
    """Run + write sinks, decision metrics, per-sink row metrics, the exported
    manifest, and a per-run metrics table (metrics_run) with stage row counts
    and wall time — the observability surface (metrics.rs:20-58 counters).

    Per-sink row counts come from an Observation attached to the sink write
    itself (one pass over the data; no second scan of the routed plan). The
    per-(policy, decision) aggregate is collected once from the cached
    decisions (a handful of rows); ``traces`` is the sum of its counts.
    Every metric table is written from driver-held rows as a JVM
    ``LocalTableScan`` (functions.tables.local_table), so the job starts no
    Python task. The three returned frames are those tables: reading them
    never re-scans the input."""
    import time

    from pyspark.sql import Observation

    t0 = time.time()
    res = run_pipeline(spark, input_path, cfg, **kw)
    try:
        obs = Observation()
        routed_obs = res.routed.observe(
            obs,
            F.count(F.lit(1)).alias("routed_rows"),
            *[
                F.sum((F.col("decision") == s).cast("long")).alias(f"{s}_rows")
                for s in SINK_NAMES
            ],
        )
        write_routed(routed_obs, os.path.join(out_dir, "routed"), day_partition=day_partition)
        counts = obs.get  # available after the write action

        agg = decision_metrics(res.decisions)
        dm_rows = agg.collect()
        dm = local_table(spark, dm_rows, agg.schema)
        dm.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_decisions"))
        rm = local_table(
            spark,
            [(s, int(counts[f"{s}_rows"] or 0)) for s in SINK_NAMES
             if (counts[f"{s}_rows"] or 0) > 0],
            "sink string, row_count long",
        )
        rm.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_rows"))
        # exported manifest (J2 dedup source on re-runs; replaces Redis
        # exported:{trace_id} keys, evaluator.rs:358-401), stamped after
        # the keep sink committed so a TTL can expire it
        mark_exported(res.decisions, int(time.time() * 1000)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "exported"))
        run_rows = [
            ("input_rows", int(counts["routed_rows"] or 0)),
            ("traces", sum(r["trace_count"] for r in dm_rows)),
            *[(f"routed_{s}", int(counts[f"{s}_rows"] or 0)) for s in SINK_NAMES],
            ("wall_ms", int((time.time() - t0) * 1000)),
            ("finished_at_ms", int(time.time() * 1000)),
        ]
    finally:
        # the slim decisions are only reused inside this call
        res.decisions.unpersist()
    run_metrics = local_table(spark, run_rows, "metric string, value long")
    run_metrics.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "metrics_run")
    )
    return {
        "decision_metrics": dm,
        "row_metrics": rm,
        "run_metrics": run_metrics,
    }
