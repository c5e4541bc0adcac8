"""Analytics queries (T1-T3, A6-A8, S6) + export projections (S9) + A10."""

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.assembly import assemble_traces
from otel_tail_sampler_spark.operators.export import (
    EXPORT_BATCH_SIZE,
    buffer_stats,
    export_batches,
    span_export_projection,
)
from otel_tail_sampler_spark.operators.parser import parse_spans
from otel_tail_sampler_spark.plans.analytics import (
    query_sql,
    recent_error_traces,
    register_views,
    service_stats,
    service_stats_approx,
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
    exact = {r["service_name"]: r["trace_count"] for r in service_stats(spans).collect()}
    approx = {
        r["service_name"]: r["trace_count"]
        for r in service_stats_approx(spans).collect()
    }
    for svc, n in exact.items():
        assert abs(approx[svc] - n) <= max(3, 0.1 * n)


def test_service_percentiles_exact_and_approx(spans):
    """Exact percentile interpolates like a hand-computed reference; the
    approx sketch lands within its documented rank error of the exact."""
    from otel_tail_sampler_spark.plans.analytics import (
        service_latency_percentiles,
        service_latency_percentiles_approx,
    )

    exact = {
        r["service_name"]: r for r in service_latency_percentiles(spans).collect()
    }
    # hand-computed p50 for one service (numpy uses the same linear scheme)
    import numpy as np

    svc = next(iter(exact))
    durs = np.array(
        [
            r["duration_ms"]
            for r in spans.filter(F.col("service_name") == svc)
            .select("duration_ms")
            .collect()
        ]
    )
    assert exact[svc]["p50"] == pytest.approx(
        round(float(np.percentile(durs, 50)), 4), abs=1e-9
    )
    assert exact[svc]["p95"] == pytest.approx(
        round(float(np.percentile(durs, 95)), 4), abs=1e-9
    )
    approx = {
        r["service_name"]: r
        for r in service_latency_percentiles_approx(spans).collect()
    }
    # the sketch's contract is RANK error <= 1/accuracy (10,000) — duration
    # is heavy-tailed, so a VALUE bound would be meaningless at p99; assert
    # the approx value sits within the exact order statistics at ranks
    # (p +/- 1/accuracy) per service
    eps = 1.0 / 10_000
    by_svc = {
        s: np.sort(
            np.array(
                [
                    r["duration_ms"]
                    for r in spans.filter(F.col("service_name") == s)
                    .select("duration_ms")
                    .collect()
                ]
            )
        )
        for s in exact
    }
    for s, e in exact.items():
        a = approx[s]
        assert a["span_count"] == e["span_count"]
        d = by_svc[s]
        n = len(d)
        for p, col in [(0.5, "p50"), (0.95, "p95"), (0.99, "p99")]:
            lo = d[max(0, int(np.floor((p - eps) * (n - 1))))]
            hi = d[min(n - 1, int(np.ceil((p + eps) * (n - 1))))]
            assert lo <= a[col] <= hi, (s, col, a[col], lo, hi)


def test_sql_facade(spark, spans, traces):
    register_views(spark, spans)
    out = query_sql(
        spark,
        "SELECT service_name, COUNT(*) AS c, SUM(CASE WHEN status_code = 2 "
        "THEN 1 ELSE 0 END) AS errs FROM spans GROUP BY 1 ORDER BY c DESC",
    ).collect()
    assert sum(r["c"] for r in out) == spans.count()
    slow = query_sql(
        spark,
        "SELECT trace_id FROM spans ORDER BY duration_ms DESC, trace_id LIMIT 1",
    ).collect()[0]["trace_id"]
    assert slow == slowest_traces(traces, 1).collect()[0]["trace_id"]


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


def test_export_batches(spans):
    out = export_batches(span_export_projection(spans))
    sizes = out.groupBy("export_partition", "export_batch").count()
    assert sizes.filter(F.col("count") > EXPORT_BATCH_SIZE).count() == 0
    # some partition holds more than one batch, so the chunking ran
    assert sizes.filter(F.col("export_batch") > 0).count() > 0


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
