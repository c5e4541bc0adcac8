"""Trace assembly vs pandas oracle; salted == unsalted equivalence."""

import pandas as pd
import pytest

from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.parser import parse_spans

from tests.oracle_pandas import assemble as oracle_assemble

# the TraceSummary columns both sides are compared on
TRACE_SUMMARY_COLS = [
    "trace_id",
    "service_name",
    "span_count",
    "has_error",
    "error_count",
    "max_duration_ms",
    "min_timestamp_ms",
    "max_timestamp_ms",
    "operations",
    "root_span_id",
]


@pytest.fixture(scope="module")
def spans_df(spark, small_dataset):
    return parse_spans(spark.read.parquet(small_dataset["tokenized"])).drop(
        "tokens", "n_tok"
    )


@pytest.fixture(scope="module")
def oracle_traces(small_dataset):
    return (
        oracle_assemble(pd.read_parquet(small_dataset["oracle"]))
        .sort_values("trace_id")
        .reset_index(drop=True)
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("trace_id").reset_index(drop=True)
    pdf["operations"] = pdf["operations"].apply(list)
    return pdf[TRACE_SUMMARY_COLS].astype(
        {"span_count": "int64", "error_count": "int64"}
    )


def test_assembly_matches_oracle(spans_df, oracle_traces):
    got = _normalize(assemble_traces(spans_df).toPandas())
    want = _normalize(oracle_traces)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_salted_equals_unsalted(spans_df):
    plain = _normalize(assemble_traces(spans_df).toPandas())
    salted = _normalize(assemble_traces(spans_df, salt_buckets=8).toPandas())
    pd.testing.assert_frame_equal(salted, plain, check_dtype=False)


def test_summary_invariants(spans_df):
    t = assemble_traces(spans_df).toPandas()
    assert (t["span_count"] >= 1).all()
    assert (t["min_timestamp_ms"] <= t["max_timestamp_ms"]).all()
    assert (t["has_error"] == (t["error_count"] > 0)).all()
    assert t["root_span_id"].notna().all()
