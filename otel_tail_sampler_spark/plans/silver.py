"""Silver-table pattern: parse once, bucket by the standing join key,
re-decide shuffle-free.

The expensive STAGE of the pipeline is the parse (parse_spans_jvm, whose
per-character name decode runs interpreted); the expensive EXCHANGE is the
assembly groupBy on (trace_k1, trace_k2). Materializing the parsed spans
once as a Spark bucketed table on exactly that key (Spark's bucket id
``pmod(hash(trace_k1, trace_k2), n)``, the batch route's bucket_col in
plans.checkpoint) makes every later pass over them — re-assembly under a
new policy config (the common operation: rule updates arrive through
operators.rule_store), force-rule re-evaluation, analytics — scan
co-located buckets with NO exchange before the aggregation. This is the
sandbox-available analog of the reference's Iceberg partition spec
``bucket(trace_id, 16)``
(/root/reference/src/storage/iceberg.rs:317-334), which serves the same
role in its V2 storage design; sources/iceberg.py carries the gated
Iceberg form of the same idea.

At 10^12 spans, size ``buckets`` so one bucket's spans fit an executor
core's working set (thousands, not 64 — the default here is test-scale).
Re-decide runs then pay neither the parse nor the shuffle again: the plan
is scan -> partial agg -> final agg, pipelined per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.parser import TRACE_KEY, parse_spans_jvm
from otel_tail_sampler_spark.operators.policies import SamplerConfig, decide


def materialize_parsed(
    spark: SparkSession,
    tokenized: DataFrame | str,
    table: str,
    buckets: int = 64,
    path: str | None = None,
) -> DataFrame:
    """Parse the tokenized spans and persist them as a bucketed+sorted
    parquet table on the trace key. One parse pass, ever; the token column
    is NOT carried (it stays in the bronze table — routing re-derives keys
    JVM-side from there, parser.with_routing_key)."""
    if isinstance(tokenized, str):
        tokenized = spark.read.parquet(tokenized)
    parsed = parse_spans_jvm(tokenized, keep_tokens=False)
    writer = (
        parsed.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *TRACE_KEY)
        .sortBy(*TRACE_KEY)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
    return spark.table(table)


def assemble_from_silver(spark: SparkSession, table: str) -> DataFrame:
    """Trace assembly over the bucketed silver table. With the group keys
    equal to the bucket spec, Catalyst plans scan -> HashAggregate with no
    Exchange (asserted in tests/test_silver.py). It always runs the plain
    aggregation: salting is pointless here, because a bucketed scan already
    fixed the distribution."""
    good = spark.table(table).filter("parse_ok")
    return assemble_traces(good)


def redecide_from_silver(
    spark: SparkSession, table: str, cfg: SamplerConfig
) -> DataFrame:
    """The rule-update fast path: evaluate a NEW policy config against the
    already-parsed corpus. No parse, no assembly exchange — this is why
    the silver table exists."""
    return decide(assemble_from_silver(spark, table), cfg)
