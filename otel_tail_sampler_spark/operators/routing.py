"""Route decided traces' spans to keep/drop/overflow sinks + stage metrics.

Re-expresses the evaluator's export flow (/root/reference/src/sampling/
evaluator.rs:241-336 — fetch kept traces' spans, export, account) as one
shuffle join + a single-pass partitioned write:

    routed = spans JOIN decided(trace_k1, trace_k2, decision, decision_policy)
    write routed partitioned by decision  (keep / drop / overflow in ONE pass)

The join is the 'metadata-first' pattern (docs/ARCHITECTURE_V2_ICEBERG.md:27-33):
the decision table carries ~50 bytes/trace; the wide token payload stays in the
span table and is only moved once. At scale the join shuffles the span side
by the trace key in an exchange of its own: the assembly aggregation
shuffled on the same key, but Catalyst prunes the two scans to different
columns (tokens alone vs. the full row), so the exchanges differ and none
is reused. Heavy-hitter traces are split by AQE skew-join.

Metrics (A9, src/observability/metrics.rs:20-58): per-(policy, decision) trace
counts as a DataFrame; per-sink routed-row counts are observed on the sink
write itself (plans.pipeline.run_and_write) — together the per-sink
aggregate-count parity artifact of the north rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.parser import TRACE_KEY

DECISION_COLS = ["trace_id", "decision", "decision_policy"]
DROP_SINK = "drop"
DROP_POLICY = "no_policy_matched"


def route_spans(spans: DataFrame, decided: DataFrame) -> DataFrame:
    """Attach (decision, decision_policy) to every span row of the input.

    ``spans`` must carry the trace key pair and ``parse_ok`` (parser output
    or ``with_routing_key``, tokens preserved); ``decided`` carries the key
    pair plus DECISION_COLS. A left join keeps malformed rows
    (parse_ok=false) in the stream: they route to the ``malformed`` sink
    instead of aborting or vanishing — one scan, one join, no separate
    quarantine pass.
    """
    # Broadcast only the NON-DEFAULT decisions: 'drop'/'no_policy_matched' is
    # the overwhelming majority at real sampling rates, so the join build side
    # shrinks from |traces| to |kept + overflow + force-dropped| (~a few
    # percent) — the metadata-first move that keeps the broadcast O(kept), not
    # O(traces), at any scale. Unmatched spans default to drop.
    #
    # Escape hatch at extreme scale: there is deliberately NO F.broadcast()
    # hint here. Spark sizes the build side itself, so when the kept set
    # exceeds spark.sql.autoBroadcastJoinThreshold (e.g. 10^12 traces at a
    # high keep rate) the plan degrades gracefully to a sort-merge join on
    # the trace key (AQE skew splitting) instead of OOMing the driver on a
    # forced broadcast. That join shuffles the span rows, payload included,
    # in their own exchange: the assembly exchange is keyed the same way but
    # over a differently pruned scan, so it is not reused.
    # Operators can pin either behavior via that threshold; tests/test_plans.py
    # asserts the broadcast shape at sampled-keep sizes.
    #
    # The join key is the int64 trace-key pair (16-byte fixed keys, no
    # per-span string hashing); when the spans carry no hex trace_id it
    # comes from the build side for matched (non-drop) rows only.
    cols = TRACE_KEY + [c for c in DECISION_COLS if c not in spans.columns]
    interesting = decided.select(*cols).filter(
        (F.col("decision") != DROP_SINK)
        | (F.col("decision_policy") != DROP_POLICY)
    )
    bad = ~F.col("parse_ok")
    return spans.join(interesting, TRACE_KEY, "left").withColumns(
        {
            "decision": F.when(bad, F.lit("malformed")).otherwise(
                F.coalesce(F.col("decision"), F.lit(DROP_SINK))
            ),
            "decision_policy": F.when(bad, F.lit("parse_error")).otherwise(
                F.coalesce(F.col("decision_policy"), F.lit(DROP_POLICY))
            ),
            # with_routing_key's keys are UNgated: a malformed row whose
            # junk key slots collide with a real trace would otherwise
            # surface that trace's hex id from the build side
            "trace_id": F.when(bad, F.lit(None).cast("string")).otherwise(
                F.col("trace_id")
            ),
        }
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
    fmt: str = "parquet",
    day_partition: bool = False,
) -> None:
    """Single-pass fan-out: one partitioned write, three sinks.

    Writing ``partitionBy('decision')`` produces keep/ drop/ overflow/
    directories in one job instead of three filtered writes (one scan, not
    three). Iceberg deployments replace this with three ``writeTo(...)``
    appends or a partitioned table on the decision column.

    ``day_partition=True`` adds the reference's time dimension
    (``day(timestamp_ms)``, iceberg.rs:317-334): the day is derived
    JVM-side from the token header slots (parser.day_expr — the routing
    path stays Arrow-free), so every time-ranged sink read gets partition
    pruning instead of a full scan. Rows without a decodable timestamp
    (malformed) land in the null default partition of their sink.
    """
    df, cols = routed, ["decision"]
    if day_partition and "tokens" in routed.columns:
        from otel_tail_sampler_spark.operators.parser import day_expr

        df = routed.withColumn("day", day_expr(F.col("tokens")))
        cols = ["decision", "day"]
    df.write.mode("overwrite").partitionBy(*cols).format(fmt).save(out_dir)
