"""The end-to-end bounded tail-sampling job (the flagship DAG).

Stage layout (SURVEY.md §3.2 re-expression), one pass and one job:

    spans   = read(tokenized).with_routing_key().parse()    # narrow, JVM only
    routed  = summary OVER (trace key, parse_ok) -> decide() # one exchange
    write keep/drop/overflow/malformed by bucket, observed: # partitioned write
        per-sink rows, traces, per-(policy, decision) traces
    checkpoint += the pass's buckets and counts              # JSON marker
    metric tables from the checkpoint's summed counts       # driver rows
    exported manifest = keep sink's trace ids, read back

Replaces the reference's evaluator loop (evaluator.rs:150-336) with one
deterministic DAG, built by ``route`` alone: ``run_and_write`` writes it
and resumes it by bucket (plans.checkpoint), and ``run_pipeline`` exposes
it as lazy frames next to the assembled TraceSummary.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.tables import local_table
from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.enrichment import mark_exported
from otel_tail_sampler_spark.operators.force_rules import active_rules, apply_force_rules
from otel_tail_sampler_spark.operators.parser import (
    SPAN_FIELDS,
    TOKENIZED_DDL,
    TRACE_KEY,
    hex_from_keys,
    parse_spans_jvm,
    with_routing_key,
)
from otel_tail_sampler_spark.operators.policies import (
    SamplerConfig,
    decide,
    decision_labels,
)
from otel_tail_sampler_spark.operators.routing import REP, route_spans, write_routed
from otel_tail_sampler_spark.plans.checkpoint import (
    bucket_col,
    open_checkpoint,
    save_checkpoint,
)


@dataclass
class PipelineResult:
    spans: DataFrame
    traces: DataFrame  # assembled TraceSummary (lazy)
    decided: DataFrame  # traces + policy flags + decision (lazy)
    decisions: DataFrame  # one routed row per trace: key, decision, policy (lazy)
    routed: DataFrame


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


# every parsed span field but the key (with_routing_key's, ungated) and the
# per-span hex id (the trace's is derived from the key)
DECISION_FIELDS = [
    n for n, _ in SPAN_FIELDS if n not in (*TRACE_KEY, "trace_id", "parse_ok")
]


def route(
    tokenized: DataFrame,
    cfg: SamplerConfig,
    force_rules: list[dict],
    n_buckets: int,
) -> DataFrame:
    """The flagship DAG: ``tokenized`` routed in one pass
    (operators.routing.route_spans), sink columns plus the ``REP`` trace
    marker. The parse is the whole-stage-codegen expression parser over
    ``with_routing_key``'s ungated key, so the DAG has ZERO Python stages;
    Catalyst prunes the parse to the fields the decision reads, and the
    wide token column passes through untouched. The one exchange is
    ``hashpartitioning(trace_k1, trace_k2, n_buckets)``, so partition
    ``b`` holds bucket ``b`` (plans.checkpoint.bucket_col); it satisfies
    the window's clustering on (trace key, parse_ok). ``force_rules``
    arrive active and sorted by priority."""
    spans = parse_spans_jvm(with_routing_key(tokenized), fields=DECISION_FIELDS)
    return route_spans(spans.repartition(n_buckets, *TRACE_KEY), cfg, force_rules)


def run_pipeline(
    spark: SparkSession,
    input_path: str | DataFrame,
    cfg: SamplerConfig | None = None,
    force_rules: list[dict] | None = None,
    salt_buckets: int | None = None,
) -> PipelineResult:
    """The flagship DAG over ``input_path`` as lazy frames. ``routed`` and
    ``decisions`` (one row per trace) come from the one-pass route;
    ``traces`` and ``decided`` are the assembled TraceSummary and its
    decisions, for callers that read the summary (analytics, the traced
    benchmark layers). Nothing is cached. ``force_rules`` expired at the
    time of the call do not apply."""
    cfg = cfg or SamplerConfig()
    force_rules = active_rules(force_rules or [], int(time.time() * 1000))
    tokenized = (
        input_path
        if isinstance(input_path, DataFrame)
        else read_tokenized(spark, input_path)
    )
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    marked = route(tokenized, cfg, force_rules, n_buckets)

    # assembly side: all span fields of the parse-ok rows, the wide token
    # column decoded into nothing (dropped inside the parse projection)
    good = parse_spans_jvm(tokenized.select("tokens"), keep_tokens=False).filter(
        F.col("parse_ok")
    )
    traces = assemble_traces(good, salt_buckets=salt_buckets)
    if force_rules:
        traces = apply_force_rules(traces, good, force_rules)
    return PipelineResult(
        spans=with_routing_key(tokenized),
        traces=traces,
        decided=decide(traces, cfg),
        decisions=marked.filter(F.col(REP)).select(
            *TRACE_KEY,
            hex_from_keys(F.col("trace_k1"), F.col("trace_k2")).alias("trace_id"),
            "decision",
            "decision_policy",
        ),
        routed=marked.drop(REP),
    )


SINK_NAMES = ("keep", "drop", "overflow", "malformed")


def observe_sinks(marked: DataFrame, cfg: SamplerConfig) -> tuple[DataFrame, Observation]:
    """``marked`` (route's output) as the sink frame, with an Observation
    that the sink write fills: routed rows, rows per sink, ``traces`` and
    one trace counter per :func:`decision_labels` pair, all counted on the
    write's own pass. Its counts, summed over passes, go to
    :func:`trace_counts`."""
    rep = F.col(REP)
    obs = Observation()
    observed = marked.observe(
        obs,
        F.count(F.lit(1)).alias("routed_rows"),
        *[
            F.sum((F.col("decision") == s).cast("long")).alias(f"{s}_rows")
            for s in SINK_NAMES
        ],
        F.sum(rep.cast("long")).alias("traces"),
        *[
            F.sum(
                (rep & (F.col("decision_policy") == p) & (F.col("decision") == d))
                .cast("long")
            ).alias(f"pair_{i}")
            for i, (p, d) in enumerate(decision_labels(cfg))
        ],
    )
    return observed.drop(REP), obs


def trace_counts(counts: Counter, cfg: SamplerConfig) -> tuple[int, list[tuple]]:
    """(traces, [(decision_policy, sink, trace_count)] of the non-zero
    pairs) from :func:`observe_sinks`' counts. Raises when the pair counts
    do not add up to ``traces``: a trace whose decision has no label would
    otherwise be missing from the metrics silently."""
    traces = counts["traces"]
    pairs = [
        (p, d, counts[f"pair_{i}"]) for i, (p, d) in enumerate(decision_labels(cfg))
    ]
    pairs = [r for r in pairs if r[2] > 0]
    if sum(r[2] for r in pairs) != traces:
        raise RuntimeError(
            f"decision counts {pairs} do not add up to {traces} traces: a "
            "decision outside policies.decision_labels"
        )
    return traces, pairs


def run_and_write(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: SamplerConfig | None = None,
    day_partition: bool = False,
    force_rules: list[dict] | None = None,
) -> dict[str, DataFrame]:
    """Run + write sinks, decision metrics, per-sink row metrics, the exported
    manifest, and a per-run metrics table (metrics_run) with stage row counts
    and wall time — the observability surface (metrics.rs:20-58 counters).

    One job routes and writes every span: the route is one pass over the
    input (see :func:`route`), and every count — per-sink rows, ``traces``
    and the per-(policy, decision) trace counts — comes from an
    Observation on that write (:func:`observe_sinks`), so nothing is cached
    or collected for the metrics. The exported manifest is the keep sink's
    distinct trace ids, read back from the written sink. Every metric
    table is written from driver-held rows as a JVM ``LocalTableScan``
    (functions.tables.local_table), so the job starts no Python task. The
    three returned frames are those tables: reading them never re-scans
    the input.

    The job resumes by bucket (plans.checkpoint): the sinks are partitioned
    by the route's own shuffle partition, and the checkpoint records each
    committed pass's buckets and counts. Rerun with the same arguments
    after a failure, it writes only the buckets no pass committed, none at
    all when the failure came after the sink write, and the metric tables
    from every pass's counts. A rerun of a finished run starts over."""
    t0 = time.time()
    cfg = cfg or SamplerConfig()
    routed_dir = os.path.join(out_dir, "routed")
    inputs = {
        "input_path": input_path,
        "cfg": repr(cfg),
        "force_rules": force_rules or [],
        "day_partition": day_partition,
    }
    state = open_checkpoint(spark, out_dir, inputs)
    # the rule clock is the run's start, recorded with a fresh checkpoint,
    # so a resume applies the rules its first pass applied
    state.setdefault("now_ms", int(t0 * 1000))
    force_rules = active_rules(force_rules or [], state["now_ms"])
    n = state["n_buckets"]
    done = sorted(b for p in state["passes"] for b in p["buckets"])
    if len(done) < n:
        # fresh and resumed runs plan the exchange at the recorded bucket
        # count; a resume filters the done buckets out below it (the filter
        # is on the exchange's keys, so Catalyst pushes it down to the scan)
        marked = route(read_tokenized(spark, input_path), cfg, force_rules, n)
        marked = marked.withColumn("bucket", bucket_col(n))
        if done:
            marked = marked.filter(~F.col("bucket").isin(done))
        routed, obs = observe_sinks(marked, cfg)
        write_routed(routed, routed_dir, day_partition=day_partition, dynamic=bool(done))
        state["passes"].append({
            "buckets": [b for b in range(n) if b not in done],
            "counts": {k: int(v or 0) for k, v in obs.get.items()},
        })
        save_checkpoint(spark, out_dir, state)
    counts = Counter()
    for p in state["passes"]:
        counts.update(p["counts"])
    traces, dm_rows = trace_counts(counts, cfg)

    dm = local_table(
        spark, dm_rows,
        "decision_policy string, sink string NOT NULL, trace_count bigint NOT NULL",
    )
    dm.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_decisions"))
    rm = local_table(
        spark,
        [(s, counts[f"{s}_rows"]) for s in SINK_NAMES if counts[f"{s}_rows"] > 0],
        "sink string, row_count long",
    )
    rm.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_rows"))
    # exported manifest (J2 dedup source on re-runs; replaces Redis
    # exported:{trace_id} keys, evaluator.rs:358-401): the committed keep
    # sink's distinct traces, read back partition-pruned to the int64 key
    # pair (the hex id is formatted once per trace), stamped after that
    # commit so a TTL can expire it
    kept = (
        spark.read.schema("trace_k1 long, trace_k2 long, decision string")
        .parquet(routed_dir)
        .select("trace_k1", "trace_k2", "decision")
        .distinct()
        .select(
            hex_from_keys(F.col("trace_k1"), F.col("trace_k2")).alias("trace_id"),
            "decision",
        )
    )
    mark_exported(kept, int(time.time() * 1000)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "exported")
    )
    run_rows = [
        ("input_rows", counts["routed_rows"]),
        ("traces", traces),
        *[(f"routed_{s}", counts[f"{s}_rows"]) for s in SINK_NAMES],
        ("wall_ms", int((time.time() - t0) * 1000)),
        ("finished_at_ms", int(time.time() * 1000)),
    ]
    run_metrics = local_table(spark, run_rows, "metric string, value long")
    run_metrics.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "metrics_run")
    )
    state["finished"] = True
    save_checkpoint(spark, out_dir, state)
    return {
        "decision_metrics": dm,
        "row_metrics": rm,
        "run_metrics": run_metrics,
    }
