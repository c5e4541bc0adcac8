"""Analytics queries (T1-T3, A6-A8) + export projections (S9) + A10."""

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.export import (
    buffer_stats,
    span_export_projection,
)
from otel_tail_sampler_spark.operators.parser import parse_spans
from otel_tail_sampler_spark.plans.analytics import (
    recent_error_traces,
    service_stats,
    slowest_traces,
)


@pytest.fixture(scope="module")
def spans(spark, small_dataset):
    return parse_spans(spark.read.parquet(small_dataset["tokenized"])).drop(
        "tokens", "n_tok"
    )


@pytest.fixture(scope="module")
def traces(spans):
    return assemble_traces(spans)


def test_slowest_traces_topk(traces):
    rows = slowest_traces(traces, 5).collect()
    durs = [r["max_duration_ms"] for r in rows]
    assert durs == sorted(durs, reverse=True) and len(rows) == 5
    top = traces.agg(F.max("max_duration_ms")).collect()[0][0]
    assert durs[0] == top


def test_recent_error_traces(traces):
    rows = recent_error_traces(traces, 5).collect()
    assert all(r["error_count"] > 0 for r in rows)
    ts = [r["max_timestamp_ms"] for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_service_stats_exact_vs_approx(spans):
    """The exact per-service trace counts equal a pandas distinct count."""
    exact = {r["service_name"]: r["trace_count"] for r in service_stats(spans).collect()}
    want = spans.select("service_name", "trace_id").toPandas()
    assert exact == want.groupby("service_name")["trace_id"].nunique().to_dict()


def test_service_percentiles_exact_and_approx(spans):
    """Exact percentile interpolates like a hand-computed reference."""
    import numpy as np

    from otel_tail_sampler_spark.plans.analytics import service_latency_percentiles

    exact = {
        r["service_name"]: r for r in service_latency_percentiles(spans).collect()
    }
    # hand-computed p50 for one service (numpy uses the same linear scheme)
    svc = next(iter(exact))
    durs = np.array(
        [
            r["duration_ms"]
            for r in spans.filter(F.col("service_name") == svc)
            .select("duration_ms")
            .collect()
        ]
    )
    assert exact[svc]["span_count"] == len(durs)
    assert exact[svc]["p50"] == pytest.approx(
        round(float(np.percentile(durs, 50)), 4), abs=1e-9
    )
    assert exact[svc]["p95"] == pytest.approx(
        round(float(np.percentile(durs, 95)), 4), abs=1e-9
    )


def test_span_export_projection(spans):
    rec = span_export_projection(spans.limit(100)).collect()
    for r in rec:
        assert r["start"] % 1_000_000 == 0  # ms->ns
        assert r["error"] in (0, 1)
        assert r["meta"]["env"] == "production"
    src = {x["span_id"]: x for x in spans.limit(100).collect()}
    for r in rec:
        s = src[r["span_id"]]
        assert r["start"] == s["timestamp_ms"] * 1_000_000
        assert r["error"] == int(s["status_code"] == 2)


def test_buffer_stats(spans):
    rows = {r["status_code"]: r for r in buffer_stats(spans).collect()}
    assert set(rows) == {0, 2}
    assert rows[0]["est_bytes"] == rows[0]["span_count"] * 1024


def test_exported_manifest_ttl(spark):
    """J2 TTL parity with Redis SETEX (evaluator.rs:358-380): fresh manifest
    rows suppress re-export, aged-out rows do not, null-stamped rows never
    expire, and the TTL path demands an explicit now_ms (determinism)."""
    import pytest as _pt

    from otel_tail_sampler_spark.operators.enrichment import (
        dedup_against_exported,
        mark_exported,
    )

    decided = spark.createDataFrame(
        [("t1", "keep"), ("t2", "keep"), ("t3", "keep"), ("t4", "keep")],
        "trace_id string, decision string",
    )
    manifest = spark.createDataFrame(
        [("t1", 1_000_000), ("t2", 5_000_000), ("t3", None)],
        "trace_id string, exported_at_ms long",
    )
    now, ttl = 6_000_000, 2_000_000  # cutoff 4_000_000: t1 aged out
    got = {
        r["trace_id"]
        for r in dedup_against_exported(decided, manifest, ttl_ms=ttl, now_ms=now).collect()
    }
    assert got == {"t1", "t4"}  # t2 fresh, t3 unstamped -> still suppressed
    # without a TTL every manifest row suppresses
    got_plain = {r["trace_id"] for r in dedup_against_exported(decided, manifest).collect()}
    assert got_plain == {"t4"}
    with _pt.raises(ValueError, match="now_ms"):
        dedup_against_exported(decided, manifest, ttl_ms=ttl)
    # mark_exported stamps the batch explicitly
    stamped = mark_exported(decided, exported_at_ms=now).toPandas()
    assert set(stamped["trace_id"]) == {"t1", "t2", "t3", "t4"}
    assert (stamped["exported_at_ms"] == now).all()
