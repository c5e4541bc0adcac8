"""Policy golden cases from the reference's own tests + precedence table.

Golden rows mirror /root/reference/src/sampling/policies.rs:630-752 (error
trace @ rate 1.0 => Keep, clean => Drop; slow 200 > thr 100 => Keep, fast 50
=> Drop; combination strategies) and evaluator precedence
(evaluator.rs:197-296).
"""

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ConfigurablePolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
    combine,
    decide,
)


def _summary_df(spark, rows):
    cols = [
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
    return spark.createDataFrame([tuple(r) for r in rows], cols)


BASE = dict(min_ts=0, max_ts=1000)


def _row(tid, svc="svc-a", spans=5, err=False, errs=0, maxdur=50, ops=("op",)):
    return [tid, svc, spans, err, errs, maxdur, 0, 1000, list(ops), "R1"]


@pytest.fixture(scope="module")
def golden(spark):
    rows = [
        _row("ERR", err=True, errs=1),          # error @ rate 1.0 -> keep
        _row("CLEAN"),                            # -> drop
        _row("SLOW", maxdur=200),                 # latency thr 100 -> keep
        _row("FAST", maxdur=50),                  # -> drop
        _row("BIG", spans=500),                   # cardinality > 100 -> keep
    ]
    return _summary_df(spark, rows)


def _decisions(df, cfg):
    out = decide(df, cfg).select("trace_id", "decision", "decision_policy")
    return {r["trace_id"]: (r["decision"], r["decision_policy"]) for r in out.collect()}


def test_default_policies_golden(golden):
    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=1.0),
        latency=LatencyPolicy(threshold_ms=100, sample_rate=1.0),
        cardinality=CardinalityPolicy(max_span_count=100),
    )
    d = _decisions(golden, cfg)
    assert d["ERR"] == ("keep", "error_sampling")
    assert d["CLEAN"] == ("drop", "no_policy_matched")
    assert d["SLOW"] == ("keep", "latency_sampling")
    assert d["FAST"] == ("drop", "no_policy_matched")
    assert d["BIG"] == ("keep", "cardinality_sampling")


def test_zero_rate_drops_errors(golden):
    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=0.0),
        latency=LatencyPolicy(threshold_ms=10**9),
        cardinality=CardinalityPolicy(max_span_count=10**9),
    )
    d = _decisions(golden, cfg)
    assert d["ERR"][0] == "drop"


def test_always_sample_errors_short_circuit(golden):
    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=0.0),
        latency=LatencyPolicy(threshold_ms=10**9),
        cardinality=CardinalityPolicy(max_span_count=10**9),
        always_sample_errors=True,
    )
    d = _decisions(golden, cfg)
    assert d["ERR"] == ("keep", "error_short_circuit")
    assert d["CLEAN"][0] == "drop"


def test_combination_strategies(spark):
    df = _summary_df(
        spark,
        [_row("BOTH", err=True, errs=1, maxdur=200), _row("ONE", maxdur=200)],
    )
    p = [
        ("err", F.col("has_error")),
        ("lat", F.col("max_duration_ms") > 100),
    ]
    for strategy, want_both, want_one in [
        ("any_match", True, True),
        ("all_match", True, False),
        ("consensus", True, True),   # 1/2 >= 0.5
        ("priority", True, True),
    ]:
        keep, winner = combine(p, strategy)
        got = {
            r["trace_id"]: r["k"]
            for r in df.select("trace_id", keep.alias("k")).collect()
        }
        assert got == {"BOTH": want_both, "ONE": want_one}, strategy


def test_consensus_threshold(spark):
    df = _summary_df(spark, [_row("ONE", maxdur=200)])
    p = [("err", F.col("has_error")), ("lat", F.col("max_duration_ms") > 100)]
    keep, _ = combine(p, "consensus", consensus_threshold=0.75)
    assert df.select(keep.alias("k")).collect()[0]["k"] is False


def test_force_precedence(spark):
    # force_drop > force_keep > short-circuit > policies
    df = _summary_df(spark, [_row("T", err=True, errs=1)]).withColumns(
        {"force_drop": F.lit(True), "force_keep": F.lit(True)}
    )
    cfg = SamplerConfig(always_sample_errors=True)
    d = _decisions(df, cfg)
    assert d["T"] == ("drop", "force_drop")

    df2 = df.withColumn("force_drop", F.lit(False))
    assert _decisions(df2, cfg)["T"] == ("keep", "force_keep")


def test_configurable_policy_ast(spark):
    df = _summary_df(
        spark,
        [
            _row("SVCMATCH", svc="payment-service", maxdur=10),
            _row("OPMATCH", ops=("postgresql.query", "redis.get")),
            _row("RANGE", maxdur=75),
            _row("NONE"),
        ],
    )
    pol = ConfigurablePolicy(
        name="custom",
        conditions=(
            {"type": "service", "match": "prefix", "value": "payment"},
            {
                "type": "and",
                "conditions": [
                    {"type": "operation", "match": "regex", "value": r"postgresql\..*"},
                    {"type": "not", "condition": {"type": "error"}},
                ],
            },
            {"type": "duration_range", "min_ms": 60, "max_ms": 80},
        ),
        sample_rate=1.0,
    )
    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=0.0),
        latency=LatencyPolicy(threshold_ms=10**9),
        cardinality=CardinalityPolicy(max_span_count=10**9),
        extra_policies=(pol,),
    )
    d = _decisions(df, cfg)
    assert d["SVCMATCH"] == ("keep", "custom")
    assert d["OPMATCH"] == ("keep", "custom")
    assert d["RANGE"] == ("keep", "custom")
    assert d["NONE"][0] == "drop"


def test_rate_limit_per_key(spark):
    rows = [_row(f"T{i}", err=True, errs=1) for i in range(20)]
    df = _summary_df(spark, rows)
    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=1.0),
        latency=LatencyPolicy(threshold_ms=10**9),
        cardinality=CardinalityPolicy(max_span_count=10**9),
        rate_limit_per_key=5,
    )
    out = decide(df, cfg).groupBy("decision").count().collect()
    counts = {r["decision"]: r["count"] for r in out}
    assert counts == {"keep": 5, "overflow": 15}
    # determinism: same input -> same overflow set
    a = set(
        r["trace_id"]
        for r in decide(df, cfg).filter(F.col("decision") == "overflow").collect()
    )
    b = set(
        r["trace_id"]
        for r in decide(df, cfg).filter(F.col("decision") == "overflow").collect()
    )
    assert a == b


def test_rate_limit_two_level_exact_and_plan_shape(spark, monkeypatch):
    """The two-level limit must (1) select exactly the global per-key
    top-``limit`` by md5 order regardless of the salt bucket count, and (2) never run
    an unsalted window over the raw kept set: the only window partitioned by
    the bare key sits above the _r1 <= limit filter (bounded input)."""
    import re

    from otel_tail_sampler_spark.functions import ranking
    from otel_tail_sampler_spark.operators.policies import apply_rate_limit

    rows = [_row(f"T{i:03d}", err=True, errs=1) for i in range(60)]
    df = _summary_df(spark, rows).withColumns(
        {
            "decision": F.lit("keep"),
            "decision_policy": F.lit("error_sampling"),
        }
    )
    # brute-force expected winners: 7 smallest md5(trace_id||'rate_limit')
    got_sets = []
    for buckets in (1, 4, 64):
        monkeypatch.setattr(ranking, "SALT_BUCKETS", buckets)
        out = apply_rate_limit(df, "service_name", 7)
        got_sets.append(
            frozenset(
                r["trace_id"]
                for r in out.filter(F.col("decision") == "keep").collect()
            )
        )
        assert out.filter(F.col("decision") == "overflow").count() == 53
    assert len(set(got_sets)) == 1  # partitioning-independent selection

    import hashlib

    want = frozenset(
        sorted(
            (f"T{i:03d}" for i in range(60)),
            key=lambda t: hashlib.md5(f"{t}|rate_limit".encode()).hexdigest(),
        )[:7]
    )
    assert got_sets[0] == want

    plan = apply_rate_limit(df, "service_name", 7)._jdf.queryExecution().optimizedPlan().toString()
    # every Window partitioned by the bare key (no salt) must come after the
    # level-1 cap filter; the salted window has no such requirement
    blocks = plan.split("Window ")
    for blk in blocks[1:]:
        spec = blk.split("\n")[0]
        if "_salt" not in spec:
            assert re.search(r"_r1#\d+ <= 7", blk), f"unsalted window w/o cap:\n{blk[:400]}"


def test_hash_sampling_rate_monotonicity(spark):
    """Consistent hash-based sampling invariants: the keep set at rate r1 is
    a SUBSET of the keep set at r2 > r1 (same traces, no reshuffling of who
    is sampled as rates move — the property that makes rate changes safe in
    production), the sampled fraction tracks the rate, and 0.0/1.0 are
    exact bounds."""
    rows = [_row(f"T{i:04d}", err=True, errs=1) for i in range(400)]
    df = _summary_df(spark, rows)

    def keep_set(rate):
        cfg = SamplerConfig(error=ErrorPolicy(sample_rate=rate))
        return {
            r["trace_id"]
            for r in decide(df, cfg).filter("decision = 'keep'").collect()
        }

    k00, k03, k06, k10 = (keep_set(r) for r in (0.0, 0.3, 0.6, 1.0))
    assert k00 == set()
    assert len(k10) == 400
    assert k03 <= k06 <= k10  # nested: hfrac(trace) < rate is monotone in rate
    # fraction tracks the rate (md5 fractions are ~uniform; generous bounds)
    assert 0.18 <= len(k03) / 400 <= 0.42
    assert 0.48 <= len(k06) / 400 <= 0.72
