"""Force-rule golden cases mirroring /root/reference/src/sampling/
force_sampling.rs:821-1018 (matcher ops, rule-level matching, expiry,
span-attribute matching, priority)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from otel_tail_sampler_spark.functions.matchers import compile_matcher
from otel_tail_sampler_spark.operators.force_rules import apply_force_rules

# traces are keyed on (trace_k1, trace_k2), the pipeline's one trace key;
# trace Tn is (0, n), and trace_id is only the traces' readable label
SPAN_SCHEMA = StructType(
    [
        StructField("trace_k1", LongType()),
        StructField("trace_k2", LongType()),
        StructField("span_id", StringType()),
        StructField("service_name", StringType()),
        StructField("operation_name", StringType()),
        StructField("duration_ms", LongType()),
        StructField("status_code", LongType()),
        StructField("attributes", MapType(StringType(), StringType())),
    ]
)

TRACE_SCHEMA = StructType(
    [
        StructField("trace_id", StringType()),
        StructField("trace_k1", LongType()),
        StructField("trace_k2", LongType()),
        StructField("service_name", StringType()),
        StructField("span_count", LongType()),
        StructField("has_error", BooleanType()),
        StructField("max_duration_ms", LongType()),
    ]
)


@pytest.fixture(scope="module")
def attr_spans(spark):
    rows = [
        (0, 1, "s1", "payment-service", "http.request", 100, 0,
         {"tenant.id": "acme", "http.url": "https://x/api/v2/pay", "http.status_code": "502"}),
        (0, 2, "s2", "user-service", "http.request", 50, 0,
         {"tenant.id": "other", "http.route": "/users/123"}),
        (0, 3, "s3", "user-service", "grpc", 50, 0,
         {"rpc.method": "GetUser"}),
        (0, 4, "s4", "search-service", "http.request", 10, 0, {}),
    ]
    return spark.createDataFrame(rows, SPAN_SCHEMA)


@pytest.mark.parametrize(
    "matcher,expected",
    [
        ({"key": "tenant.id", "op": "eq", "value": "acme"}, {"T1"}),
        ({"key": "tenant.id", "op": "neq", "value": "acme"}, {"T2"}),
        ({"key": "http.url", "op": "contains", "value": "/api/v2/"}, {"T1"}),
        ({"key": "http.url", "op": "starts_with", "value": "https://"}, {"T1"}),
        ({"key": "http.route", "op": "regex", "value": r"/users/\d+"}, {"T2"}),
        ({"key": "rpc.method", "op": "in", "values": ["GetUser", "ListUsers"]}, {"T3"}),
        ({"key": "tenant.id", "op": "exists"}, {"T1", "T2"}),
        ({"key": "http.status_code", "op": "gte", "value": "500"}, {"T1"}),
        ({"key": "http.status_code", "op": "lt", "value": "500"}, set()),
    ],
)
def test_matcher_ops(attr_spans, matcher, expected):
    got = {
        f"T{r['trace_k2']}"
        for r in attr_spans.filter(compile_matcher(matcher)).select("trace_k2").collect()
    }
    assert got == expected


def _traces(spark):
    rows = [
        ("T1", 0, 1, "payment-service", 3, False, 100),
        ("T2", 0, 2, "user-service", 3, False, 50),
        ("T3", 0, 3, "user-service", 3, True, 50),
        ("T4", 0, 4, "search-service", 1, False, 10),
    ]
    return spark.createDataFrame(rows, TRACE_SCHEMA)


def test_resource_and_span_matchers_combined(spark, attr_spans):
    rules = [
        {
            "id": "keep-payment-v2",
            "priority": 100,
            "resource_matchers": [
                {"key": "service.name", "op": "eq", "value": "payment-service"}
            ],
            "span_matchers": [
                {"key": "http.url", "op": "contains", "value": "/api/v2/"}
            ],
            "action": "force_keep",
        },
        {
            "id": "drop-search",
            "priority": 50,
            "resource_matchers": [
                {"key": "service.name", "op": "eq", "value": "search-service"}
            ],
            "span_matchers": [],
            "action": "force_drop",
        },
    ]
    out = apply_force_rules(_traces(spark), attr_spans, rules).collect()
    by_id = {r["trace_id"]: r for r in out}
    assert by_id["T1"]["force_keep"] and by_id["T1"]["force_rule_id"] == "keep-payment-v2"
    assert by_id["T4"]["force_drop"] and by_id["T4"]["force_rule_id"] == "drop-search"
    assert not by_id["T2"]["force_keep"] and not by_id["T2"]["force_drop"]


def test_expired_rule_skipped(spark, attr_spans):
    rules = [
        {
            "id": "expired",
            "priority": 100,
            "expires_at_ms": 1_000,
            "resource_matchers": [],
            "span_matchers": [],
            "action": "force_drop",
        }
    ]
    out = apply_force_rules(_traces(spark), attr_spans, rules, now_ms=2_000).collect()
    assert all(not r["force_drop"] for r in out)
    # unexpired applies to everything (empty matcher lists match all)
    out2 = apply_force_rules(_traces(spark), attr_spans, rules, now_ms=500).collect()
    assert all(r["force_drop"] for r in out2)


def test_priority_first_match_wins(spark, attr_spans):
    rules = [
        {
            "id": "low-drop",
            "priority": 1,
            "resource_matchers": [],
            "span_matchers": [],
            "action": "force_drop",
        },
        {
            "id": "high-keep",
            "priority": 99,
            "resource_matchers": [],
            "span_matchers": [],
            "action": "force_keep",
        },
    ]
    out = apply_force_rules(_traces(spark), attr_spans, rules).collect()
    assert all(r["force_keep"] and r["force_rule_id"] == "high-keep" for r in out)


def test_span_field_matcher_without_attributes(spark, attr_spans):
    """Matchers can target direct span fields (duration_ms gte)."""
    rules = [
        {
            "id": "slow-span",
            "priority": 10,
            "resource_matchers": [],
            "span_matchers": [{"key": "duration_ms", "op": "gte", "value": "100"}],
            "action": "force_keep",
        }
    ]
    out = apply_force_rules(_traces(spark), attr_spans, rules).collect()
    by_id = {r["trace_id"]: r["force_keep"] for r in out}
    assert by_id == {"T1": True, "T2": False, "T3": False, "T4": False}


def test_rule_store_crud_and_reload(spark, attr_spans, tmp_path):
    """Lake-backed rule CRUD (force_sampling.rs:486-601 analog): save ->
    update (new version wins) -> delete (tombstone); apply_rules_from_table
    reloads the current snapshot each run."""
    from otel_tail_sampler_spark.operators import rule_store as RS

    path = str(tmp_path / "rules")
    traces = spark.createDataFrame(
        [
            ("T1", 0, 1, "payment-service", 3, False, 100),
            ("T2", 0, 2, "user-service", 3, False, 100),
        ],
        TRACE_SCHEMA,
    )

    # create
    v1 = RS.save_rule(spark, path, {
        "id": "r1", "priority": 10, "action": "force_keep",
        "resource_matchers": [{"key": "service.name", "op": "eq",
                               "value": "payment-service"}],
    })
    assert v1 == 1
    out = RS.apply_rules_from_table(traces, attr_spans, path)
    got = {r["trace_id"]: r["force_keep"] for r in out.collect()}
    assert got == {"T1": True, "T2": False}

    # update: same id, new matcher -> latest version wins
    v2 = RS.save_rule(spark, path, {
        "id": "r1", "priority": 10, "action": "force_keep",
        "resource_matchers": [{"key": "service.name", "op": "eq",
                               "value": "user-service"}],
    })
    assert v2 == 2
    rules = RS.load_rules(spark, path)
    assert len(rules) == 1
    assert rules[0]["resource_matchers"][0]["value"] == "user-service"
    out2 = {r["trace_id"]: r["force_keep"]
            for r in RS.apply_rules_from_table(traces, attr_spans, path).collect()}
    assert out2 == {"T1": False, "T2": True}

    # second rule + delete the first -> only r2 remains
    RS.save_rule(spark, path, {
        "id": "r2", "priority": 5, "action": "force_drop",
        "resource_matchers": [{"key": "service.name", "op": "eq",
                               "value": "payment-service"}],
    })
    RS.delete_rule(spark, path, "r1")
    rules = RS.load_rules(spark, path)
    assert [r["id"] for r in rules] == ["r2"]
    out3 = {r["trace_id"]: (r["force_keep"], r["force_drop"])
            for r in RS.apply_rules_from_table(traces, attr_spans, path).collect()}
    assert out3 == {"T1": (False, True), "T2": (False, False)}

    # empty/missing table -> no rules, no flags
    assert RS.load_rules(spark, str(tmp_path / "nope")) == []


def test_unreadable_rule_table_raises(spark, tmp_path):
    """Only a missing rule table reads as empty. A table that fails to
    read raises: read as empty, the job would run with no force rules and
    save_rule would append a second version 1."""
    from otel_tail_sampler_spark.operators import rule_store as RS

    path = tmp_path / "rules"
    RS.save_rule(spark, str(path), {"id": "r1", "action": "force_keep"})
    (path / "junk.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="junk.parquet"):
        RS.load_rules(spark, str(path))
    with pytest.raises(Exception, match="junk.parquet"):
        RS.save_rule(spark, str(path), {"id": "r2", "action": "force_keep"})
