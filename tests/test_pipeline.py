"""End-to-end pipeline parity vs the pandas oracle.

Asserts the north-rule artifacts: per-policy per-sink decision counts, per-sink
routed-row counts, and EXACT routed-row token-array equality (the per-row
invariant of BASELINE.json input_hint).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)
from otel_tail_sampler_spark.plans.pipeline import run_pipeline

from tests import oracle_pandas as O

CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
)


@pytest.fixture(scope="module")
def result(spark, small_dataset):
    return run_pipeline(spark, small_dataset["tokenized"], CFG)


@pytest.fixture(scope="module")
def oracle(small_dataset):
    spans = pd.read_parquet(small_dataset["oracle"])
    traces = O.assemble(spans)
    decided = O.decide(
        traces,
        error_rate=0.8,
        latency_threshold_ms=4000,
        latency_rate=1.0,
        max_span_count=100,
    )
    return spans, decided


def test_decision_counts_match(result, oracle):
    _, decided_o = oracle
    got = {
        (r["decision_policy"], r["decision"]): r["n"]
        for r in result.decided.groupBy("decision_policy", "decision")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = (
        decided_o.groupby(["decision_policy", "decision"]).size().to_dict()
    )
    assert got == want


def test_sink_row_counts_match(result, oracle):
    spans_o, decided_o = oracle
    got = {
        r["decision"]: r["count"]
        for r in result.routed.groupBy("decision").count().collect()
    }
    want = O.sink_counts(spans_o, decided_o)
    assert got == want


def test_routed_token_equality(result, spark, small_dataset, oracle):
    """Every routed keep-row's token array must equal the source row's, and
    the keep set must be exactly the oracle's keep set (doc_id-level)."""
    spans_o, decided_o = oracle
    keep_docs_oracle = set(
        spans_o.merge(
            decided_o.loc[decided_o["decision"] == "keep", ["trace_id"]],
            on="trace_id",
        )["doc_id"]
    )
    routed_keep = (
        result.routed.filter("decision = 'keep'")
        .select("doc_id", "tokens")
        .toPandas()
    )
    assert set(routed_keep["doc_id"]) == keep_docs_oracle

    src = pd.read_parquet(
        small_dataset["tokenized"], columns=["doc_id", "tokens"]
    ).set_index("doc_id")
    merged = routed_keep.set_index("doc_id").join(src, rsuffix="_src")
    assert all(
        list(a) == list(b) for a, b in zip(merged["tokens"], merged["tokens_src"])
    )


def test_disjoint_and_complete_routing(result):
    total = result.spans.count()
    per_sink = dict(
        (r["decision"], r["count"])
        for r in result.routed.groupBy("decision").count().collect()
    )
    assert sum(per_sink.values()) == total


def test_empty_input_pipeline(spark, tmp_path):
    """Zero-row input: the whole pipeline (parse -> assemble -> decide ->
    route -> write + metrics) must produce empty-but-well-formed outputs,
    not crash — the first partition a real cluster job hits is often empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    empty = pa.table(
        {
            "doc_id": pa.array([], pa.string()),
            "tokens": pa.array([], pa.list_(pa.int32())),
            "n_tok": pa.array([], pa.int32()),
            "source": pa.array([], pa.string()),
        }
    )
    src = str(tmp_path / "empty.parquet")
    pq.write_table(empty, src)
    out = str(tmp_path / "out")
    m = run_and_write(spark, src, out, CFG)
    assert m["row_metrics"].count() == 0
    assert m["decision_metrics"].count() == 0
    # a zero-row partitioned write legitimately produces no files;
    # reading such a dir back needs an explicit schema (Spark can't infer)
    import glob

    assert glob.glob(f"{out}/routed/**/*.parquet", recursive=True) == []


def test_all_malformed_input(spark, tmp_path):
    """Every row malformed: everything routes to the malformed sink with
    decision_policy=parse_error, tokens preserved verbatim, no decisions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [[1, 2, 3], [], [0] * 14 + [99, 65], [0] * 14 + [1, 200, 0]]
    tbl = pa.table(
        {
            "doc_id": [f"d{i}" for i in range(len(rows))],
            "tokens": pa.array(rows, pa.list_(pa.int32())),
            "n_tok": pa.array([len(r) for r in rows], pa.int32()),
            "source": ["s"] * len(rows),
        }
    )
    src = str(tmp_path / "bad.parquet")
    pq.write_table(tbl, src)
    res = run_pipeline(spark, src, CFG)
    routed = res.routed.select("doc_id", "decision", "decision_policy", "tokens").toPandas()
    assert (routed["decision"] == "malformed").all()
    assert (routed["decision_policy"] == "parse_error").all()
    got = {d: list(t) for d, t in zip(routed["doc_id"], routed["tokens"])}
    assert got == {f"d{i}": r for i, r in enumerate(rows)}
    assert res.decided.count() == 0


def test_iceberg_feature_gate(spark, small_dataset):
    """Iceberg is feature-gated: with the runtime jar present the routed sink
    round-trips through writeTo with the reference partition spec; without it
    (this sandbox: negative probe, no jar + offline ivy) the gate raises a
    clear error and read/write never run."""
    import pytest

    from otel_tail_sampler_spark.sources import iceberg as I

    if not I.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            I.read_iceberg(spark, "lake.db.spans")
        pytest.skip("iceberg-spark-runtime not on classpath (documented probe)")

    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, small_dataset["tokenized"])
    I.write_routed_iceberg(res.routed, "lake.db.routed_test")
    back = I.read_iceberg(spark, "lake.db.routed_test")
    assert back.count() == res.routed.count()


def test_day_partitioned_sink_prunes(spark, small_dataset, tmp_path):
    """day(timestamp_ms) sink dimension (Iceberg spec parity): day dirs
    exist under each sink, a day-filtered read shows partition pruning in
    the plan, and total row counts are conserved."""
    import glob

    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    out = str(tmp_path / "out")
    run_and_write(spark, small_dataset["tokenized"], out, CFG, day_partition=True)
    day_dirs = glob.glob(f"{out}/routed/decision=*/day=*")
    assert day_dirs, "expected decision=/day= partition directories"

    routed = spark.read.parquet(f"{out}/routed")
    total = routed.count()
    assert total == spark.read.parquet(small_dataset["tokenized"]).count()

    days = sorted(r["day"] for r in routed.select("day").distinct().collect())
    one = routed.filter(F.col("day") == days[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1][:120]
    assert 0 < one.count() <= total


def test_overflow_sink_end_to_end(spark, small_dataset, tmp_path):
    """Rate-limit overflow reaches its own sink directory through
    run_and_write, and the three-way split conserves every span row."""
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=1.0),
        latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
        cardinality=CardinalityPolicy(max_span_count=100),
        rate_limit_per_key=5,
    )
    out = str(tmp_path / "out")
    m = run_and_write(spark, small_dataset["tokenized"], out, cfg)
    rows = {r["sink"]: r["row_count"] for r in m["row_metrics"].collect()}
    assert rows.get("overflow", 0) > 0, "rate limit must overflow some traces"
    disk = spark.read.parquet(f"{out}/routed")
    per_sink = {
        r["decision"]: r["count"] for r in disk.groupBy("decision").count().collect()
    }
    assert per_sink["overflow"] == rows["overflow"]
    assert sum(per_sink.values()) == spark.read.parquet(
        small_dataset["tokenized"]
    ).count()


def test_rerun_into_same_out_dir_replaces_every_sink(spark, small_dataset, tmp_path):
    """A second run into one out_dir reads back exactly its own
    metrics_rows: a sink the first run wrote and the second does not
    (overflow here) is gone, not left stale next to the new sinks."""
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    out = str(tmp_path / "out")
    limited = SamplerConfig(
        error=CFG.error, latency=CFG.latency, cardinality=CFG.cardinality,
        rate_limit_per_key=5,
    )
    first = run_and_write(spark, small_dataset["tokenized"], out, limited)
    assert "overflow" in {r["sink"] for r in first["row_metrics"].collect()}
    m = run_and_write(spark, small_dataset["tokenized"], out, CFG)
    want = {r["sink"]: r["row_count"] for r in m["row_metrics"].collect()}
    assert "overflow" not in want
    disk = spark.read.parquet(f"{out}/routed")
    got = {r["decision"]: r["count"] for r in disk.groupBy("decision").count().collect()}
    assert got == want


def test_run_job_cli(spark, small_dataset, tmp_path):
    """scripts/run_job.py (the spark-submit entrypoint) wires config JSON ->
    SamplerConfig -> run_and_write and emits the run-metrics JSON line."""
    import json
    import sys

    sys.path.insert(0, "scripts")
    import run_job

    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as fh:
        json.dump(
            {
                "sampling": {
                    "error": {"sample_rate": 0.8},
                    "latency": {"threshold_ms": 4000, "sample_rate": 1.0},
                    "cardinality": {"max_span_count": 100},
                }
            },
            fh,
        )
    out = run_job.main(
        [
            "--input", small_dataset["tokenized"],
            "--out", str(tmp_path / "out"),
            "--config", cfg_path,
            "--day-partition",
        ]
    )
    assert out["status"] == "ok"
    assert out["routed_keep"] > 0 and out["routed_drop"] > 0
    assert out["routed_keep"] + out["routed_drop"] == out["input_rows"]
    import glob

    assert glob.glob(str(tmp_path / "out" / "routed" / "decision=*" / "day=*"))


def test_jsonl_source_matches_parquet(spark, small_dataset, tmp_path):
    """JSON-lines bronze interchange: identical decisions and routed counts
    to the parquet source for the same rows (schema enforced, not inferred)."""
    import pandas as pd

    src = pd.read_parquet(small_dataset["tokenized"])
    src["tokens"] = src["tokens"].map(list)
    jl = str(tmp_path / "bronze.jsonl")
    src.to_json(jl, orient="records", lines=True)

    a = run_pipeline(spark, small_dataset["tokenized"], CFG)
    b = run_pipeline(spark, jl, CFG)
    da = {(r["trace_id"], r["decision"]) for r in a.decided.collect()}
    db = {(r["trace_id"], r["decision"]) for r in b.decided.collect()}
    assert da == db
    assert b.routed.groupBy("decision").count().collect() != []
    assert (
        b.spans.schema["tokens"].dataType.simpleString() == "array<int>"
    ), "schema must be enforced int32, not inferred long"


def test_orc_source_matches_parquet(spark, small_dataset, tmp_path):
    """ORC bronze: identical decisions to the parquet source for the same
    rows (bundled native reader — no external module, unlike Avro)."""
    orc = str(tmp_path / "bronze.orc")
    spark.read.parquet(small_dataset["tokenized"]).write.mode(
        "overwrite"
    ).orc(orc)

    a = run_pipeline(spark, small_dataset["tokenized"], CFG)
    b = run_pipeline(spark, orc, CFG)
    da = {(r["trace_id"], r["decision"]) for r in a.decided.collect()}
    db = {(r["trace_id"], r["decision"]) for r in b.decided.collect()}
    assert da == db
    assert b.spans.schema["tokens"].dataType.simpleString() == "array<int>"


def test_run_and_write_releases_cached_decisions(spark, small_dataset, tmp_path):
    """run_and_write routes in one pass and counts its metrics on the sink
    write, so it caches nothing: it must leave the session's cache as it
    found it (empty here)."""
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    spark.catalog.clearCache()
    run_and_write(spark, small_dataset["tokenized"], str(tmp_path / "out"), CFG)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_run_and_write_returns_driver_built_tables(spark, small_dataset, tmp_path):
    """The three returned metric frames are the written tables themselves:
    reading them after run_and_write (which released its cached decisions)
    must not re-scan, re-parse and re-assemble the input."""
    from otel_tail_sampler_spark.plans.pipeline import run_and_write
    from tests.test_checkpoint import _executed_plans

    m = run_and_write(spark, small_dataset["tokenized"], str(tmp_path / "out"), CFG)
    got = {}
    plans = _executed_plans(
        spark, lambda: got.update({k: df.collect() for k, df in m.items()})
    )
    assert sorted(got) == ["decision_metrics", "row_metrics", "run_metrics"]
    assert all(got.values())
    assert plans
    for desc in plans:
        assert "Scan parquet" not in desc and "FileScan" not in desc, desc


def test_metric_table_schemas(spark, small_dataset, tmp_path):
    """The written metric tables keep their column names, types and
    nullability (readers such as the perfbench oracle and DuckDB checks
    depend on them; a NOT NULL flip shows up in the parquet footer)."""
    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    out = tmp_path / "out"
    run_and_write(spark, small_dataset["tokenized"], str(out), CFG)

    def schema(table):
        return [
            (f.name, str(f.type), f.nullable)
            for f in pq.read_table(str(out / table)).schema
        ]

    assert schema("metrics_rows") == [
        ("sink", "string", True),
        ("row_count", "int64", True),
    ]
    assert schema("metrics_run") == [
        ("metric", "string", True),
        ("value", "int64", True),
    ]
    assert schema("metrics_decisions") == [
        ("decision_policy", "string", True),
        ("sink", "string", False),
        ("trace_count", "int64", False),
    ]


def test_exported_manifest_expires_under_ttl(spark, small_dataset, tmp_path, result):
    """run_and_write's exported manifest carries its export stamp, so the
    J2 dedup's TTL (the reference's expiring exported:{trace_id} keys)
    applies to it: a re-run inside the TTL suppresses every kept trace,
    one past stamp + ttl lets them through again."""
    import time

    from otel_tail_sampler_spark.operators.enrichment import dedup_against_exported
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    out = str(tmp_path / "out")
    before = int(time.time() * 1000)
    run_and_write(spark, small_dataset["tokenized"], out, CFG)
    after = int(time.time() * 1000)
    exported = spark.read.parquet(f"{out}/exported")
    keep = result.decided.filter(F.col("decision") == "keep")
    n_keep = keep.count()
    assert n_keep > 0 and exported.count() == n_keep
    ttl = 60_000
    fresh = dedup_against_exported(keep, exported, ttl_ms=ttl, now_ms=before)
    assert fresh.count() == 0
    aged = dedup_against_exported(keep, exported, ttl_ms=ttl, now_ms=after + ttl + 1)
    assert aged.count() == n_keep
