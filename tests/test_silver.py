"""Silver bucketed-table pattern: the assembly exchange disappears and
re-decides match the end-to-end pipeline exactly."""

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.parser import parse_spans
from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)
from otel_tail_sampler_spark.plans import silver as S
from otel_tail_sampler_spark.plans.pipeline import run_pipeline

CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
)
BUCKETS = 8


@pytest.fixture(scope="module")
def silver_table(spark, small_dataset, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("silver") / "parsed")
    spark.sql("DROP TABLE IF EXISTS parsed_silver_test")
    S.materialize_parsed(
        spark, small_dataset["tokenized"], "parsed_silver_test", buckets=BUCKETS, path=path
    )
    yield "parsed_silver_test"
    spark.sql("DROP TABLE IF EXISTS parsed_silver_test")


def test_silver_roundtrip_counts(spark, silver_table, small_dataset):
    raw = spark.read.parquet(small_dataset["tokenized"])
    assert spark.table(silver_table).count() == raw.count()
    assert "tokens" not in spark.table(silver_table).columns


def test_silver_layout_is_bucket_col(spark, silver_table):
    """The silver table and the batch route share one bucket function:
    every row's bucket id, parsed from its file name the way Spark reads
    it back, equals plans.checkpoint.bucket_col on that row."""
    from otel_tail_sampler_spark.plans.checkpoint import bucket_col

    rows = spark.table(silver_table).select(
        F.regexp_extract("_metadata.file_name", r".*_(\d+)(?:\..*)?$", 1)
        .cast("int")
        .alias("file_bucket"),
        bucket_col(BUCKETS).alias("bucket"),
    )
    assert rows.filter(F.col("file_bucket").isNull()).count() == 0
    assert rows.filter(F.col("file_bucket") != F.col("bucket")).count() == 0
    assert rows.select("bucket").distinct().count() > 1


def test_assembly_exchange_disappears(spark, silver_table, small_dataset):
    """The point of the bucketed silver table: groupBy(trace_k1, trace_k2)
    over it plans with NO Exchange, while the same aggregation over the
    freshly parsed stream needs one."""
    bucketed_plan = (
        S.assemble_from_silver(spark, silver_table)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in bucketed_plan

    fresh = parse_spans(
        spark.read.parquet(small_dataset["tokenized"]), keep_tokens=False
    ).filter("parse_ok")
    from otel_tail_sampler_spark.operators.assembly import assemble_traces

    fresh_plan = (
        assemble_traces(fresh)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" in fresh_plan


def test_redecide_matches_pipeline(spark, silver_table, small_dataset):
    """A re-decide from silver must reach the exact decisions of the full
    parse->assemble->decide pipeline for the same config."""
    res = run_pipeline(spark, small_dataset["tokenized"], CFG)
    want = {
        (r["trace_id"], r["decision"], r["decision_policy"])
        for r in res.decided.select(
            "trace_id", "decision", "decision_policy"
        ).collect()
    }
    got = {
        (r["trace_id"], r["decision"], r["decision_policy"])
        for r in S.redecide_from_silver(spark, silver_table, CFG)
        .select("trace_id", "decision", "decision_policy")
        .collect()
    }
    assert got == want
