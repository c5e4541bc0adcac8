"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship tail-sampling pipeline on the deterministic
sf0.001 tokenized table. ``queries``/``oracle_sql`` cover the operator
inventory of SURVEY.md §2 (pipeline operators exercised end-to-end over the
generated tokenized table, with the field-level oracle parquet as DuckDB's
input; relational operators mapped onto the driver's testdata tables per
FIXTURES.md §7) plus the training-data operator suite over documents /
embeddings.

Engine-parity rules used throughout: md5-derived hash fractions (identical in
Spark and DuckDB); ARRAY-VALUED OUTPUT COLUMNS are never returned raw — they
project through _tokens_md5 (md5 of the comma-joined elements; DuckDB twin
md5(coalesce(array_to_string(...), ''))) because the driver's canonicalizer
sorts rows with pandas and cannot sort list values; floats rounded
explicitly; timestamps cast to epoch ms.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otel_tail_sampler_spark.operators.policies import (  # noqa: E402
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)

# the flagship operating point (matches tests/test_pipeline.py and BENCH)
ENTRY_CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
    rate_limit_per_key=None,
)

_ORACLE_SF = "0.01"

# The driver's testdata dir whose `documents` view backs the oracle SQL;
# oracle builders that must READ it at SQL-generation time (the BPE
# learner replica) resolve through this ONE constant so a relocated
# harness fails loudly in one place (env override for local replicas).
_ORACLE_TESTDATA = os.environ.get(
    "SPARK_GRAFT_ORACLE_TESTDATA", "/root/testdata/sf0.01"
)


def _dataset(sf_dir: str) -> dict[str, str]:
    from otel_tail_sampler_spark.sources.generator import (
        SF_SPECS,
        ensure_dataset,
        sf_from_dir,
    )

    sf = sf_from_dir(sf_dir)
    return ensure_dataset(sf if sf in SF_SPECS else _ORACLE_SF)


def _oracle_paths() -> dict[str, str]:
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    return ensure_dataset(_ORACLE_SF)


# --------------------------------------------------------------------------
# entry
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse -> assemble -> decide -> route on sf0.001; returns
    the per-(policy, decision) trace counts (the parity metric table)."""
    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    paths = _dataset("/root/testdata/sf0.001")
    res = run_pipeline(spark, paths["tokenized"], ENTRY_CFG)
    return (
        res.decided.groupBy("decision_policy", "decision")
        .agg(F.count(F.lit(1)).alias("trace_count"))
        .orderBy("decision_policy", "decision")
    )


# --------------------------------------------------------------------------
# shared Spark-side builders
# --------------------------------------------------------------------------


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otel_tail_sampler_spark.operators.parser import parse_spans

    paths = _dataset(sf_dir)
    return parse_spans(spark.read.parquet(paths["tokenized"]), keep_tokens=False)


def _traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otel_tail_sampler_spark.operators.assembly import assemble_traces

    return assemble_traces(_parsed(spark, sf_dir).drop("n_tok", "parse_ok"))


def _decided(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otel_tail_sampler_spark.operators.policies import decide

    return decide(_traces(spark, sf_dir), ENTRY_CFG)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # epoch-ms parity with DuckDB's epoch_ms(naive ts) needs a UTC session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- pipeline queries ---------------------------------------------------------


def q_parse_spans(spark, sf_dir):
    """S2: vectorized token parse; full field equality vs the oracle table."""
    return _parsed(spark, sf_dir).select(
        "doc_id",
        "trace_id",
        "span_id",
        "parent_span_id",
        "timestamp_ms",
        "duration_ms",
        "status_code",
        "span_kind",
        "service_name",
        "operation_name",
        "source",
    )


def q_trace_assembly(spark, sf_dir):
    """A1: trace summaries (operations stringified for cross-engine hash)."""
    t = _traces(spark, sf_dir)
    return t.select(
        "trace_id",
        "service_name",
        "span_count",
        "has_error",
        "error_count",
        "max_duration_ms",
        "min_timestamp_ms",
        "max_timestamp_ms",
        F.array_join("operations", ",").alias("operations_csv"),
        "root_span_id",
    )


def q_policy_decisions(spark, sf_dir):
    """D1+D2+D3+D5(any_match): the decision table."""
    return _decided(spark, sf_dir).select(
        "trace_id",
        "decision",
        "decision_policy",
        F.col("p_error_sampling").alias("p_error"),
        F.col("p_latency_sampling").alias("p_latency"),
        F.col("p_cardinality_sampling").alias("p_cardinality"),
    )


def q_sink_counts(spark, sf_dir):
    """A9: per-(policy, decision) span-row counts after routing (J1)."""
    from otel_tail_sampler_spark.operators.routing import route_spans

    routed = route_spans(_parsed(spark, sf_dir), ENTRY_CFG)
    return (
        routed.groupBy("decision_policy", "decision")
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("decision_policy", "decision")
    )


def q_routed_keep_rows(spark, sf_dir):
    """Routed-row identity of the keep sink (doc-level parity; token-array
    equality itself is asserted in tests/test_pipeline.py)."""
    from otel_tail_sampler_spark.operators.routing import route_spans

    routed = route_spans(_parsed(spark, sf_dir), ENTRY_CFG)
    return routed.filter(F.col("decision") == "keep").select(
        "doc_id", "trace_id", "n_tok"
    )


def q_rate_limit_overflow(spark, sf_dir):
    """D8: rate-limit 50 kept traces per service; overflow set parity."""
    from dataclasses import replace

    from otel_tail_sampler_spark.operators.policies import decide

    cfg = replace(ENTRY_CFG, rate_limit_per_key=50)
    d = decide(_traces(spark, sf_dir), cfg)
    return (
        d.groupBy("service_name", "decision")
        .agg(F.count(F.lit(1)).alias("trace_count"))
        .orderBy("service_name", "decision")
    )


def q_error_short_circuit(spark, sf_dir):
    """D6: always_sample_errors bypasses policy rates (rate 0 yet errors keep)."""
    from dataclasses import replace

    from otel_tail_sampler_spark.operators.policies import decide

    cfg = replace(
        ENTRY_CFG,
        error=ErrorPolicy(sample_rate=0.0),
        always_sample_errors=True,
    )
    d = decide(_traces(spark, sf_dir), cfg)
    return d.groupBy("decision_policy", "decision").agg(
        F.count(F.lit(1)).alias("trace_count")
    )


def _tokens_md5(col_name: str = "tokens"):
    """Cross-engine value hash of an int-array column: md5 over the
    comma-joined decimal tokens (DuckDB twin:
    ``md5(coalesce(array_to_string(tokens, ','), ''))`` — the coalesce
    because DuckDB's array_to_string is string_agg underneath and yields
    NULL on an empty list where Spark's concat_ws yields ''). Same
    span-identity hash _window_hashes uses internally. The driver's
    canonicalizer sorts result rows with pandas.sort_values, which raises
    on list-valued columns, so every query output carrying a raw
    ``array<int>`` column projects it through this helper instead: full
    value equality is still checked (any token diff changes the md5) and
    the output schema stays driver-sortable. Root cause of the 6 ERR rows
    in CORRECTNESS_r03."""
    return F.md5(
        F.concat_ws(
            ",", F.transform(F.col(col_name), lambda x: x.cast("string"))
        )
    )


def _stringify_map(col_name: str):
    """Portable map hash: sorted 'k=v' CSV (maps don't canonicalize across
    engines; strings do)."""
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(F.col(col_name)),
                lambda e: F.concat_ws("=", e.getField("key"), e.getField("value")),
            )
        ),
        ",",
    )


def q_export_projection(spark, sf_dir):
    """S9: span -> export record (client.rs:192-234): ms->ns, error flag,
    meta map (stringified for the cross-engine hash)."""
    from otel_tail_sampler_spark.operators.export import span_export_projection

    rec = span_export_projection(_parsed(spark, sf_dir))
    return rec.select(
        "trace_id", "span_id", "parent_id", "service", "name",
        "start", "duration", "error",
        _stringify_map("meta").alias("meta_csv"),
    )


def q_buffer_stats(spark, sf_dir):
    """A10 (state.rs:582-614): per-status counts + byte-estimate metrics."""
    from otel_tail_sampler_spark.operators.export import buffer_stats

    return buffer_stats(_parsed(spark, sf_dir)).orderBy("status_code")


def q_sql_on_lake(spark, sf_dir):
    """S6: SQL surface over the registered span view (iceberg.rs:171-181
    analog): top operation per service by span count."""
    _parsed(spark, sf_dir).createOrReplaceTempView("spans_view")
    return spark.sql(
        """
        SELECT service_name, operation_name, cnt FROM (
          SELECT service_name, operation_name, count(*) AS cnt,
                 row_number() OVER (PARTITION BY service_name
                                    ORDER BY count(*) DESC, operation_name) AS rk
          FROM spans_view GROUP BY 1, 2
        ) WHERE rk = 1 ORDER BY service_name
        """
    )


# inline deterministic fixture for attribute-bearing operators (the generated
# tokenized table has no attributes column; both engines get the same VALUES)
ATTR_FIXTURE = [
    # span_id, operation_name, db.operation, db.system, db.statement, extra attrs
    ("a1", "db.call", "findOne", "mongodb", None, {}),
    ("a2", "pg.q", None, "postgresql", "SELECT * FROM users WHERE id = 7", {}),
    ("a3", "pg.q", None, "postgresql", "insert into t values ('x')", {}),
    ("a4", "pg.q", None, "postgresql", "UPDATE t SET a = 1 WHERE b = 2", {}),
    ("a5", "pg.q", None, "postgresql", "DELETE FROM t WHERE a = 3", {}),
    ("a6", "custom.op", None, None, None, {"tenant": "acme", "service.version": "1.2"}),
    ("a7", "pg.q", None, "postgresql", "VACUUM ANALYZE t", {}),
    ("a8", "pat.q", None, "postgresql", "SELECT * FROM USERS u JOIN x", {}),
    ("a9", "plain.http", None, None, None,
     {"host.name": "h1", "k8s.pod": "p1", "other": "zz", "customer_id": "c9"}),
]


def _attr_fixture_df(spark):
    rows = []
    for sid, op, dbop, dbsys, dbstmt, extra in ATTR_FIXTURE:
        attrs = dict(extra)
        if dbop:
            attrs["db.operation"] = dbop
        if dbsys:
            attrs["db.system"] = dbsys
        if dbstmt:
            attrs["db.statement"] = dbstmt
        rows.append(("T1", sid, None, "svc-a", op, 1000, 50, 0, attrs))
    return spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "service_name string, operation_name string, timestamp_ms long, "
        "duration_ms long, status_code long, attributes map<string,string>",
    )


def q_operation_type(spark, sf_dir):
    """F5+F6: operation-type classification over db.* attributes, including
    the configured pattern-table rewrite (span_compression.rs:230-296)."""
    from otel_tail_sampler_spark.operators.compression import (
        CompressionConfig,
        with_group_key,
    )

    cfg = CompressionConfig(sql_patterns=(("FROM USERS", "user-queries"),))
    return with_group_key(_attr_fixture_df(spark), cfg).select(
        "span_id", "op_type", "norm_statement"
    )


def q_resource_attrs(spark, sf_dir):
    """P7: prefix-filtered pseudo-resource attributes + service.name
    (force_sampling.rs:301-323)."""
    from otel_tail_sampler_spark.functions.matchers import resource_attributes

    df = _attr_fixture_df(spark).withColumn(
        "resource",
        resource_attributes(F.col("attributes"), F.col("service_name")),
    )
    return df.select(
        "span_id", _stringify_map("resource").alias("resource_csv")
    )


def q_compression_export(spark, sf_dir):
    """S10+F11+F12: compressed group -> export record with compression.* meta
    tags (client.rs:236-329), golden-checked (compressed_span_id is xxhash64 —
    engine-specific — so it is excluded from the compared columns)."""
    from otel_tail_sampler_spark.operators.compression import (
        CompressionConfig,
        compress_spans,
        compression_export_projection,
    )

    rows = []
    for i, (dur, status) in enumerate([(10, 0), (20, 2), (30, 0)]):
        rows.append(("T9", f"s{i}", "R", "db-svc", "pg.query",
                     1000 + 1000 * i, dur, status,
                     {"db.system": "postgresql",
                      "db.statement": f"SELECT * FROM t WHERE id = {i}"}))
    for i, dur in enumerate([5, 5, 5, 7]):
        rows.append(("T9", f"t{i}", "R", "db-svc", "pg.query",
                     1500 + 100 * i, dur, 0,
                     {"db.system": "postgresql",
                      "db.statement": f"INSERT INTO logs VALUES ('x{i}')"}))
    spans = spark.createDataFrame(
        rows,
        "trace_id string, span_id string, parent_span_id string, "
        "service_name string, operation_name string, timestamp_ms long, "
        "duration_ms long, status_code long, attributes map<string,string>",
    )
    out = compress_spans(spans, CompressionConfig(min_compression_count=3))
    rec = compression_export_projection(out["compressed"])
    return rec.select(
        "trace_id", "parent_span_id", "service_name", "operation_name",
        "timestamp_ms", "duration_ms", "error",
        _stringify_map("meta").alias("meta_csv"),
    )


# D4 configurable-condition AST exercised end-to-end (policies.rs:434-572):
# and/or/not nesting, service prefix + regex matchers, duration_range,
# operation suffix (EXISTS over the trace's distinct operations), hash gate.
CONFIGURABLE_CONDS = (
    {
        "type": "and",
        "conditions": [
            {"type": "error"},
            {"type": "service", "match": "prefix", "value": "payment"},
        ],
    },
    {
        "type": "or",
        "conditions": [
            {"type": "duration_range", "min_ms": 3000, "max_ms": 8000},
            {"type": "operation", "match": "suffix", "value": "/GetUser"},
        ],
    },
    {
        "type": "not",
        "condition": {"type": "service", "match": "regex", "value": "^(api|user)-"},
    },
)


def q_configurable_policy(spark, sf_dir):
    """D4: ConfigurablePolicy AST compiled to column algebra; per-trace keep."""
    from otel_tail_sampler_spark.operators.policies import ConfigurablePolicy

    pol = ConfigurablePolicy(
        name="configurable", conditions=CONFIGURABLE_CONDS, sample_rate=0.35
    )
    return _traces(spark, sf_dir).select(
        "trace_id", pol.keep_expr().alias("keep")
    )


def _d5_cfg(strategy: str, threshold: float = 0.5) -> SamplerConfig:
    from otel_tail_sampler_spark.operators.policies import ProbabilisticPolicy

    return SamplerConfig(
        error=ErrorPolicy(sample_rate=0.9),
        latency=LatencyPolicy(threshold_ms=2000, sample_rate=1.0),
        cardinality=CardinalityPolicy(max_span_count=4),
        extra_policies=(ProbabilisticPolicy(sample_rate=0.5),),
        strategy=strategy,
        consensus_threshold=threshold,
    )


def _q_combine(spark, sf_dir, strategy: str, threshold: float = 0.5):
    from otel_tail_sampler_spark.operators.policies import decide

    d = decide(_traces(spark, sf_dir), _d5_cfg(strategy, threshold))
    return d.select("trace_id", "decision", "decision_policy")


def q_combine_all_match(spark, sf_dir):
    """D5 all_match: keep iff every policy keeps (policies.rs:592-601)."""
    return _q_combine(spark, sf_dir, "all_match")


def q_combine_consensus(spark, sf_dir):
    """D5 consensus: keep iff >= threshold fraction of policies keep
    (policies.rs:602-611)."""
    return _q_combine(spark, sf_dir, "consensus", 0.75)


def q_combine_priority(spark, sf_dir):
    """D5 priority: first keeping policy wins attribution (policies.rs:612-627)."""
    return _q_combine(spark, sf_dir, "priority")


def q_slowest_traces(spark, sf_dir):
    """T1: top-20 by max_duration_ms (deterministic tiebreak trace_id)."""
    from otel_tail_sampler_spark.plans.analytics import slowest_traces

    return slowest_traces(_traces(spark, sf_dir), 20)


def q_error_traces_recent(spark, sf_dir):
    """T2: most recent 20 error traces."""
    from otel_tail_sampler_spark.plans.analytics import recent_error_traces

    return recent_error_traces(_traces(spark, sf_dir), 20)


def q_span_service_stats(spark, sf_dir):
    """A6-A8: per-service stats over parsed spans."""
    from otel_tail_sampler_spark.plans.analytics import service_stats

    s = service_stats(_parsed(spark, sf_dir))
    return s.withColumn("avg_duration_ms", F.round("avg_duration_ms", 4))


def q_service_percentiles(spark, sf_dir):
    """T-tier extension: per-service latency percentiles (p50/p95/p99),
    EXACT (linear interpolation == DuckDB quantile_cont); the approx
    sketch variant is the documented 100 TB path."""
    from otel_tail_sampler_spark.plans.analytics import (
        service_latency_percentiles,
    )

    return service_latency_percentiles(_parsed(spark, sf_dir))


def q_span_compression(spark, sf_dir):
    """A3+A4: compression groups over parsed spans (operation_name as the
    statement source; >=3 similar spans per (trace, svc, op))."""
    from otel_tail_sampler_spark.operators.compression import (
        CompressionConfig,
        compress_spans,
    )

    out = compress_spans(
        _parsed(spark, sf_dir),
        CompressionConfig(
            min_compression_count=3, window_seconds=100_000, per_trace=False
        ),
    )
    g = out["compressed"]
    return g.select(
        "service_name",
        "op_type",
        "norm_statement",
        "span_count",
        "error_count",
        "total_duration_ms",
        F.round("mean_duration_ms", 4).alias("mean_duration_ms"),
        "min_duration_ms",
        "max_duration_ms",
        "first_timestamp_ms",
        "last_timestamp_ms",
    )


def q_trace_assembly_salted(spark, sf_dir):
    """A1 salted two-phase variant — proven against the SAME oracle as the
    plain assembly (salting must be semantically invisible)."""
    from otel_tail_sampler_spark.operators.assembly import assemble_traces

    t = assemble_traces(
        _parsed(spark, sf_dir).drop("n_tok", "parse_ok"), salt_buckets=8
    )
    return t.select(
        "trace_id",
        "service_name",
        "span_count",
        "has_error",
        "error_count",
        "max_duration_ms",
        "min_timestamp_ms",
        "max_timestamp_ms",
        F.array_join("operations", ",").alias("operations_csv"),
        "root_span_id",
    )


def q_force_rules(spark, sf_dir):
    """D7: priority-ordered force keep/drop rules (resource + span matchers)
    layered over the default policies."""
    from otel_tail_sampler_spark.operators.force_rules import apply_force_rules
    from otel_tail_sampler_spark.operators.policies import decide

    rules = [
        {
            "id": "keep-payment",
            "priority": 100,
            "resource_matchers": [
                {"key": "service.name", "op": "eq", "value": "payment-service"}
            ],
            "span_matchers": [],
            "action": "force_keep",
        },
        {
            "id": "drop-slow-search",
            "priority": 50,
            "resource_matchers": [
                {"key": "service.name", "op": "eq", "value": "search-service"}
            ],
            "span_matchers": [
                {"key": "duration_ms", "op": "gte", "value": "5000"}
            ],
            "action": "force_drop",
        },
    ]
    spans = _parsed(spark, sf_dir).drop("n_tok", "parse_ok")
    traces = apply_force_rules(_traces(spark, sf_dir), spans, rules)
    d = decide(traces, ENTRY_CFG)
    return (
        d.groupBy("decision_policy", "decision")
        .agg(F.count(F.lit(1)).alias("trace_count"))
        .orderBy("decision_policy", "decision")
    )


def q_enrich_broadcast(spark, sf_dir):
    """J4: broadcast service-dimension join + rollup by tier."""
    from otel_tail_sampler_spark.operators.enrichment import (
        enrich_with_dimension,
        service_dimension,
    )

    enriched = enrich_with_dimension(
        _traces(spark, sf_dir), service_dimension(spark)
    )
    return (
        enriched.groupBy("service_tier")
        .agg(
            F.count(F.lit(1)).alias("trace_count"),
            F.sum("span_count").alias("span_count"),
            F.sum(F.col("has_error").cast("int")).alias("error_traces"),
        )
        .orderBy("service_tier")
    )


def q_exported_dedup_anti(spark, sf_dir):
    """J2: anti-join vs an exported manifest (traces of even-bucket ids)."""
    from otel_tail_sampler_spark.operators.enrichment import dedup_against_exported

    d = _decided(spark, sf_dir)
    exported = d.filter(
        F.pmod(F.conv(F.substring("trace_id", 1, 4), 16, 10).cast("long"), F.lit(2))
        == 0
    ).select("trace_id")
    fresh = dedup_against_exported(d, exported)
    return fresh.groupBy("decision").agg(F.count(F.lit(1)).alias("trace_count"))


def q_exported_dedup_ttl(spark, sf_dir):
    """J2 with Redis-SETEX-parity TTL: manifest rows older than now-ttl no
    longer suppress re-export (evaluator.rs:358-380). Manifest = even-bucket
    traces stamped with their own min_timestamp_ms; now = data max ts,
    ttl = 30 min — all data-derived, fully deterministic."""
    from otel_tail_sampler_spark.operators.enrichment import dedup_against_exported

    d = _decided(spark, sf_dir)
    exported = d.filter(
        F.pmod(F.conv(F.substring("trace_id", 1, 4), 16, 10).cast("long"), F.lit(2))
        == 0
    ).select("trace_id", F.col("min_timestamp_ms").alias("exported_at_ms"))
    now_ms = d.agg(F.max("max_timestamp_ms")).collect()[0][0]
    fresh = dedup_against_exported(d, exported, ttl_ms=30 * 60 * 1000, now_ms=now_ms)
    return fresh.groupBy("decision").agg(F.count(F.lit(1)).alias("trace_count"))


# --- relational operators on driver testdata tables ---------------------------


def q_events_session_agg(spark, sf_dir):
    """A1-analog over events: per-user session summary (FIXTURES.md §7)."""
    e = _events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("event_count"),
        F.unix_millis(F.min("ts").cast("timestamp")).alias("min_ts_ms"),
        F.unix_millis(F.max("ts").cast("timestamp")).alias("max_ts_ms"),
        F.round(F.max("value"), 6).alias("max_value"),
        F.sum((F.col("event_type") == "error").cast("int")).alias("error_count"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types_csv"
        ),
    )


def q_events_latency_policy(spark, sf_dir):
    """D2-analog: users whose max(value) exceeds a threshold."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .agg(F.round(F.max("value"), 6).alias("max_value"))
        .filter(F.col("max_value") > 90.0)
    )


def q_events_hash_sampling(spark, sf_dir):
    """D1 deterministic hash-sampling at rate 0.1 over event ids."""
    from otel_tail_sampler_spark.functions.hashing import hash_frac

    e = _events(spark, sf_dir)
    return e.filter(
        hash_frac(F.col("event_id").cast("string"), "sample") < F.lit(0.1)
    ).select("event_id", "user_id", "event_type")


def q_events_compression_agg(spark, sf_dir):
    """A3-analog: groupBy(user, type) stats HAVING count>=3."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.round(F.avg("value"), 6).alias("mean_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .filter(F.col("cnt") >= 3)
    )


def q_events_attr_matchers(spark, sf_dir):
    """P5-analog: numeric matcher over JSON props (gte) + eq matcher."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        e.filter((k >= 50) & (F.col("event_type") == "click"))
        .select("event_id", "user_id", k.cast("long").alias("k_value"))
    )


def q_events_topk(spark, sf_dir):
    """T1-analog: top-25 events by value, deterministic tiebreak."""
    e = _events(spark, sf_dir)
    return (
        e.select("event_id", "user_id", F.round("value", 6).alias("value"))
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(25)
    )


def q_events_sessionize(spark, sf_dir):
    """Batch sessionization (gap-based) via window lag — the batch form of
    the streaming session_window; per-user session stats."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap_ms = 30 * 60 * 1000
    sess = (
        e.withColumn("_prev", F.lag("ts_ms").over(w))
        .withColumn(
            "_new",
            (
                F.col("_prev").isNull()
                | (F.col("ts_ms") - F.col("_prev") > gap_ms)
            ).cast("int"),
        )
        .withColumn(
            "session_idx",
            F.sum("_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts_ms", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("user_id", "session_idx")
    )


def q_compression_remainder(spark, sf_dir):
    """A5: spans NOT in any surviving compression group pass through —
    recompute-key anti-join semantics checked against SQL."""
    from otel_tail_sampler_spark.operators.compression import (
        CompressionConfig,
        compress_spans,
    )

    out = compress_spans(
        _parsed(spark, sf_dir),
        CompressionConfig(
            min_compression_count=900, window_seconds=100_000, per_trace=False
        ),
    )
    return (
        out["passthrough"]
        .groupBy("service_name", "operation_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("service_name", "operation_name")
    )


def q_orders_enrich_join(spark, sf_dir):
    """J4-analog on TPC-H-ish: orders ⋈ broadcast(customer) rollup by nation."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
        .orderBy("c_nationkey")
    )


def q_lineitem_semi_join(spark, sf_dir):
    """J1-analog: lineitems of high-value orders via left-semi join."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    kept = orders.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_orderkey")
    )
    return (
        li.join(kept, li.l_orderkey == kept.o_orderkey, "semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def q_lineitem_anti_join(spark, sf_dir):
    """J2-analog: lineitems NOT belonging to 'F'-status orders (anti join)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        li.join(f_orders, li.l_orderkey == f_orders.o_orderkey, "anti")
        .groupBy("l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("l_linestatus")
    )


def q_tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (the canonical agg benchmark)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- training-data operators ---------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup winners (planted duplicates via self-union)."""
    from otel_tail_sampler_spark.operators.dedup import exact_dup_groups

    docs = _docs(spark, sf_dir)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return exact_dup_groups(docs.unionByName(dup)).select(
        "digest", "dup_count", "keeper_id"
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (first 8 hashes, stringified)."""
    from otel_tail_sampler_spark.operators.dedup import minhash_signatures_agg

    sig = minhash_signatures_agg(_docs(spark, sf_dir), num_hashes=8)
    return sig.select(
        "doc_id",
        F.concat_ws(",", *[F.col(f"h{i}") for i in range(8)]).alias("minhash_csv"),
    )


def q_minhash_lsh_pairs(spark, sf_dir):
    """LSH candidate pairs over documents (12 hashes, 6 bands)."""
    from otel_tail_sampler_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), num_hashes=12, bands=6
    ).select("id_a", "id_b", "n_bands_shared")


def q_trace_readiness(spark, sf_dir):
    """P4 (batch form, iceberg.rs:447-480 / memory.rs:185-228): a trace is
    'ready' when inactive past the threshold. Batch 'now' = the dataset's max
    event time (deterministic), threshold 30s; both engines derive the cutoff
    from the data, no wall clock."""
    t = _traces(spark, sf_dir)
    cutoff = t.agg(F.max("max_timestamp_ms")).collect()[0][0]
    return t.select(
        "trace_id",
        (F.col("max_timestamp_ms") + 30_000 <= F.lit(cutoff)).alias("ready"),
    )


def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish (word runs / digit runs / punctuation pieces)
    token counts. Spark splits on lookaround boundaries; the oracle counts
    the equivalent maximal-run matches (RE2 has no lookarounds)."""
    from otel_tail_sampler_spark.operators.text import (
        token_count_bpe_ish,
        token_count_ws,
    )

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_ws"),
        token_count_bpe_ish(F.col("text")).alias("n_bpe"),
    )


def q_dedup_components(spark, sf_dir):
    """Connected-components cluster dedup over the LSH pair graph:
    component_id = min doc_id reachable (iterative min-label propagation
    with per-round lineage truncation); singletons map to themselves."""
    from otel_tail_sampler_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=6).select(
        "id_a", "id_b"
    )
    return dedup_components(pairs, all_ids=docs)


def q_simhash(spark, sf_dir):
    """SimHash 16-bit fingerprints per document."""
    from otel_tail_sampler_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.35 (the LSH verify stage)."""
    from otel_tail_sampler_spark.operators.dedup import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(_docs(spark, sf_dir), shingle_n=3, threshold=0.35)
    return p.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_contamination(spark, sf_dir):
    """Train/eval decontamination: best 8-gram containment per eval doc
    (8 words = the public decontamination norm — PaLM; GPT-3 used 13),
    with hot grams (train document frequency > 2) pruned before the join
    so stop-phrase fanout stays bounded at corpus scale.

    Deterministic split of the documents table (doc_id % 10 == 0 -> eval).
    The cap trade-off (documented on the operator): an eval text whose
    grams ALL exceed the train-side cap — e.g. duplicated verbatim in 3+
    train docs at this cap — reports clean here; verbatim copies are the
    exact-dedup family's job (dedup_exact), which this cap deliberately
    leaves to it. Eval docs matching <= cap train docs report containment
    1.0 as before.
    """
    from otel_tail_sampler_spark.operators.dedup import contamination

    docs = _docs(spark, sf_dir)
    return contamination(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        shingle_n=8,
        threshold=0.2,
        max_gram_df=2,
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for 4 fixed query vectors."""
    from otel_tail_sampler_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash document fingerprints, k=4 window=5."""
    from otel_tail_sampler_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=4, window=5)


def q_winnow_pairs(spark, sf_dir):
    """MOSS composition: winnowing fingerprints -> candidate dup pairs
    sharing >= 2 surviving fingerprints (hot fps with doc-frequency > 16
    dropped before the self-join, bounding fanout like MinHash banding)."""
    from otel_tail_sampler_spark.operators.text import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(_docs(spark, sf_dir), k=4, window=5)
    return winnow_candidate_pairs(fps, max_fp_df=16, min_shared=2)


def q_hash_tokenize(spark, sf_dir):
    """Deterministic hashing-trick tokenizer: words -> md5-mod-4096 int32
    ids, bridging documents to the input_hint tokenized shape."""
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    return hash_tokenize(_docs(spark, sf_dir), vocab_size=4096).select(
        "doc_id", _tokens_md5().alias("tokens_md5"), "n_tok"
    )


def q_dup_token_spans(spark, sf_dir):
    """Token-window substring dedup (Lee et al. 2022 signal): 16-token
    windows at stride 8 over the hash-tokenized documents; spans whose
    window hash repeats corpus-wide are flagged with their position."""
    from otel_tail_sampler_spark.operators.dedup import dup_token_spans
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    toks = hash_tokenize(_docs(spark, sf_dir), vocab_size=4096)
    return dup_token_spans(toks, window=16, stride=8, min_count=2)


def q_trim_dup_spans(spark, sf_dir):
    """Substring-dedup TRIM (Lee et al. 2022): duplicated 16-token windows
    removed keep-first over the hash-tokenized documents."""
    from otel_tail_sampler_spark.operators.dedup import trim_dup_spans
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    toks = hash_tokenize(_docs(spark, sf_dir), vocab_size=4096)
    return trim_dup_spans(toks, window=16, stride=8, min_count=2).select(
        "doc_id", _tokens_md5().alias("tokens_md5"), "n_removed"
    )


def q_corpus_to_shards(spark, sf_dir):
    """The full training-prep DAG end-to-end in one declarative chain:
    raw documents -> hashing-trick tokenize -> 256-token packing ->
    deterministic shard assignment. Every stage is oracle-proven standalone;
    this checks the composition value-exactly (tokens included)."""
    from otel_tail_sampler_spark.operators.packing import (
        assign_shards,
        pack_sequences,
    )
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    toks = hash_tokenize(_docs(spark, sf_dir), vocab_size=4096)
    packed = pack_sequences(toks, max_len=256)
    return assign_shards(packed, n_shards=8).select(
        "example_id",
        _tokens_md5().alias("tokens_md5"),
        "n_tok",
        "shard",
        "shard_pos",
    )


def q_doc_rarity(spark, sf_dir):
    """Corpus-frequency rarity/OOV quality signals over the tokenized
    table (integer-exact ratios; rounding applied query-side)."""
    from otel_tail_sampler_spark.operators.corpus import doc_rarity

    tok = _dataset(sf_dir)["tokenized"]
    out = doc_rarity(spark.read.parquet(tok), rare_threshold=2)
    return out.select(
        "doc_id",
        "n_tok",
        F.round("mean_freq", 6).alias("mean_freq"),
        F.round("rare_frac", 6).alias("rare_frac"),
        "min_freq",
    )


def q_winnow_report(spark, sf_dir):
    """Full MOSS similarity report: winnow pairs + both per-doc matched
    fingerprint fractions over the cap-surviving fp sets."""
    from otel_tail_sampler_spark.operators.text import (
        winnow_fingerprints,
        winnow_similarity_report,
    )

    fps = winnow_fingerprints(_docs(spark, sf_dir), k=4, window=5)
    return winnow_similarity_report(fps, max_fp_df=16, min_shared=2)


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: the doc_id-ordered token stream cut into 256-token
    training examples (canonical pre-training batch prep over the
    input_hint table shape)."""
    from otel_tail_sampler_spark.operators.packing import pack_sequences

    tok = _dataset(sf_dir)["tokenized"]
    return pack_sequences(spark.read.parquet(tok), max_len=256).select(
        "example_id", _tokens_md5().alias("tokens_md5"), "n_tok"
    )


def q_assign_shards(spark, sf_dir):
    """Shard assignment + within-shard shuffle order over the packed
    examples (8 shards). Oracle derives the example-id domain arithmetically:
    packing emits exactly ceil(total_tokens / max_len) contiguous ids."""
    from otel_tail_sampler_spark.operators.packing import (
        assign_shards,
        pack_sequences,
    )

    tok = _dataset(sf_dir)["tokenized"]
    packed = pack_sequences(spark.read.parquet(tok), max_len=256)
    return assign_shards(packed, n_shards=8).select(
        "example_id", "shard", "shard_pos"
    )


def q_remap_rare_tokens(spark, sf_dir):
    """OOV collapse: corpus-frequency-1 tokens -> UNK(-1), arrays remapped
    in place (Zipf tail: ~68% of types are singletons at sf0.01)."""
    from otel_tail_sampler_spark.operators.corpus import remap_rare_tokens

    tok = _dataset(sf_dir)["tokenized"]
    return remap_rare_tokens(spark.read.parquet(tok), min_freq=2).select(
        "doc_id", _tokens_md5().alias("tokens_md5"), "n_unk"
    )


def q_split_corpus(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment (consistent-hash
    family: growing the train fraction never reshuffles test)."""
    from otel_tail_sampler_spark.operators.corpus import split_corpus

    return split_corpus(_docs(spark, sf_dir)).select("doc_id", "source", "split")


def q_pack_with_boundaries(spark, sf_dir):
    """Boundary-aware packing: BOS/EOS wrap (-101/-100) then the 256-token
    pack — the composition the pack_sequences docstring prescribes."""
    from otel_tail_sampler_spark.operators.packing import (
        add_special_tokens,
        pack_sequences,
    )

    tok = _dataset(sf_dir)["tokenized"]
    wrapped = add_special_tokens(
        spark.read.parquet(tok), bos_id=-101, eos_id=-100
    )
    return pack_sequences(wrapped, max_len=256).select(
        "example_id", _tokens_md5().alias("tokens_md5"), "n_tok"
    )


MIX_RATES = {f"src{i}": ((i % 4) + 1) * 0.25 for i in range(20)}

# upsampling weights: exact binary quarters (0..2.75) so the fractional
# part compares bit-identically in both engines; src0 weight 0 -> dropped
UP_RATES = {f"src{i}": (i % 12) * 0.25 for i in range(20)}


def q_build_vocab(spark, sf_dir):
    """Learned-vocab build: top-1000 tokens by (freq DESC, token ASC) with
    dense rank ids — the counted-vocabulary counterpart to hash_tokenize."""
    from otel_tail_sampler_spark.operators.corpus import build_vocab

    tok = _dataset(sf_dir)["tokenized"]
    return build_vocab(spark.read.parquet(tok), vocab_size=1000)


def q_encode_with_vocab(spark, sf_dir):
    """Corpus re-encoded onto the built vocab's dense ids (OOV -> -1);
    token arrays md5-stringified for the driver-sortable schema."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_vocab,
        encode_with_vocab,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    vocab = build_vocab(tok, vocab_size=1000)
    return encode_with_vocab(tok, vocab).select(
        "doc_id", _tokens_md5().alias("tokens_md5"), "n_unk"
    )


def q_mixture_upsample(spark, sf_dir):
    """Epochs-per-source upsampling: floor(w) copies + md5-consistent
    fractional extra; (doc_id, copy) is the emitted identity."""
    from otel_tail_sampler_spark.operators.corpus import mixture_upsample

    return mixture_upsample(_docs(spark, sf_dir), UP_RATES).select(
        "doc_id", "source", "copy"
    )


def q_vocab_histogram(spark, sf_dir):
    """Unigram token histogram over the tokenized table (vocab stats)."""
    from otel_tail_sampler_spark.operators.corpus import vocab_histogram

    tok = _dataset(sf_dir)["tokenized"]
    return vocab_histogram(spark.read.parquet(tok))


def q_mixture_sample(spark, sf_dir):
    """Deterministic domain-mixing sample: per-source md5-fraction rates."""
    from otel_tail_sampler_spark.operators.corpus import mixture_sample

    docs = _docs(spark, sf_dir)
    return mixture_sample(docs, MIX_RATES).select("doc_id", "lang", "source")


def q_prepare_corpus(spark, sf_dir):
    """Flagship corpus-prep composition: exact dedup -> length gate
    (>=20 words) -> repetition gate (dup_word_frac <= 0.6) -> mixture
    sample. Each signal is oracle-proven standalone; this checks the
    chain end-to-end."""
    from otel_tail_sampler_spark.operators.corpus import prepare_corpus

    return prepare_corpus(
        _docs(spark, sf_dir), MIX_RATES, min_words=20, max_dup_word_frac=0.6
    )


def q_winnow_poly(spark, sf_dir):
    """Vectorized char-gram Karp-Rabin winnowing (scale path), k=16 w=8."""
    from otel_tail_sampler_spark.operators.text import winnow_fingerprints_poly

    return winnow_fingerprints_poly(_docs(spark, sf_dir), k=16, window=8)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, brute-force (the small-N verify path)."""
    from otel_tail_sampler_spark.operators.dedup import embedding_dup_pairs

    p = embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.4)
    return p.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_embedding_neardup_lsh(spark, sf_dir):
    """Embedding near-dup via banded hyperplane LSH (the scale path): sign-bit
    band buckets -> candidate join on (band, key) -> exact cosine verify.
    Deterministic planes (seed 42) make the whole plan SQL-expressible, so
    unlike most ANN paths this one is hash-checked, not rows-only."""
    from otel_tail_sampler_spark.operators.dedup import embedding_dup_pairs_lsh

    p = embedding_dup_pairs_lsh(
        _emb(spark, sf_dir), dim=64, threshold=0.4, n_bands=4, band_bits=8, seed=42
    )
    return p.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_text_stats(spark, sf_dir):
    """Token counts + language-ID heuristic + fingerprint per document."""
    from otel_tail_sampler_spark.operators.text import (
        lang_id,
        token_count_ws,
    )

    docs = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("n_words"),
        lang_id(F.col("text")).alias("lang_guess"),
        F.md5(norm).alias("fp_md5"),
    )


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters: dup-word / top-word / top-bigram
    fractions per document."""
    from otel_tail_sampler_spark.operators.text import repetition_signals

    return repetition_signals(_docs(spark, sf_dir))


def q_redact_pii(spark, sf_dir):
    """PII scrub with deterministically planted PII (synthetic docs carry
    none) so the regex parity is actually exercised: one email, one IPv4,
    one phone per doc, derived from doc_id."""
    from otel_tail_sampler_spark.operators.text import redact_pii

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.1 tel 555-867-5309"),
        ).alias("text"),
    )
    return redact_pii(planted).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5("redacted").alias("redacted_md5"),
    )


def q_doc_quality(spark, sf_dir):
    """Quality features: digit/stopword ratios + mean word length."""
    from otel_tail_sampler_spark.operators.text import quality_features

    q = quality_features(_docs(spark, sf_dir))
    return q.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("stopword_ratio_en", 6).alias("stopword_ratio_en"),
    )


# --- composite rollups (VERDICT r3 #5): several stalwart checks unioned
# into ONE driver row each, so the 50-entry window can cover the full
# 74-query surface every round. Each leg is the EXACT output of its
# standalone query (same builder function — they cannot diverge), tagged
# and cast onto a shared schema; full row-level fidelity is preserved
# (no aggregation over the legs' outputs).


def q_pipeline_counters_rollup(spark, sf_dir):
    """sink_counts + rate_limit_overflow + error_short_circuit +
    force_rules in one (chk, k1, k2, cnt) table."""

    def tag(df, name, c1, c2, cn):
        return df.select(
            F.lit(name).alias("chk"),
            F.col(c1).cast("string").alias("k1"),
            F.col(c2).cast("string").alias("k2"),
            F.col(cn).cast("long").alias("cnt"),
        )

    return (
        tag(q_sink_counts(spark, sf_dir), "sink_counts",
            "decision_policy", "decision", "row_count")
        .unionByName(tag(q_rate_limit_overflow(spark, sf_dir), "rate_limit",
                         "service_name", "decision", "trace_count"))
        .unionByName(tag(q_error_short_circuit(spark, sf_dir), "short_circuit",
                         "decision_policy", "decision", "trace_count"))
        .unionByName(tag(q_force_rules(spark, sf_dir), "force_rules",
                         "decision_policy", "decision", "trace_count"))
    )


def q_relational_rollup(spark, sf_dir):
    """orders_enrich_join + lineitem_semi_join + lineitem_anti_join in one
    (chk, k, cnt, val) table."""

    def tag(df, name, k, cn, v):
        return df.select(
            F.lit(name).alias("chk"),
            F.col(k).cast("string").alias("k"),
            F.col(cn).cast("long").alias("cnt"),
            (F.col(v).cast("double") if v else F.lit(0.0)).alias("val"),
        )

    return (
        tag(q_orders_enrich_join(spark, sf_dir), "orders_enrich",
            "c_nationkey", "order_count", "total_price")
        .unionByName(tag(q_lineitem_semi_join(spark, sf_dir), "semi",
                         "l_returnflag", "cnt", "revenue"))
        .unionByName(tag(q_lineitem_anti_join(spark, sf_dir), "anti",
                         "l_linestatus", "cnt", None))
    )


def q_events_rollup(spark, sf_dir):
    """events_latency_policy + events_topk + events_attr_matchers +
    events_hash_sampling in one (chk, k1, k2, k3, val) table."""

    def tag(df, name, cols, v):
        ks = [
            (F.col(c).cast("string") if c else F.lit("")).alias(f"k{i + 1}")
            for i, c in enumerate(cols)
        ]
        return df.select(
            F.lit(name).alias("chk"),
            *ks,
            (F.col(v).cast("double") if v else F.lit(0.0)).alias("val"),
        )

    return (
        tag(q_events_latency_policy(spark, sf_dir), "latency",
            ["user_id", None, None], "max_value")
        .unionByName(tag(q_events_topk(spark, sf_dir), "topk",
                         ["event_id", "user_id", None], "value"))
        .unionByName(tag(q_events_attr_matchers(spark, sf_dir), "attr",
                         ["event_id", "user_id", "k_value"], None))
        .unionByName(tag(q_events_hash_sampling(spark, sf_dir), "hash",
                         ["event_id", "user_id", "event_type"], None))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDERING CONTRACT: the driver's correctness artifact records the
    FIRST 50 entries, so the dict is ordered least-proven-first and the
    window ROTATES by last-green round. Round-6 window: (1) the 13
    round-5 additions that have never had a driver row
    (bm25_search_index … interleave_key), (2) the first 37 of the
    r4-green tier that rotated out of the r5 window (hash_tokenize …
    embedding_topk, in tail order). The 13 r4-green entries that do not
    fit (trace_assembly … error_traces_recent) keep their r4 row — two
    rounds old after r6, within the contract's staleness bound — and
    lead the r7 window together with anything added this round. The
    r5-green tier (CORRECTNESS_r05's 50) follows them in the tail. Three
    entries stay permanently at the tail end as documented exceptions:
    lsh_topk_approx / ivf_topk_approx (rows-only by nature — the driver
    check they'd get is weaker than the recall pytest that carries them)
    and winnow_fingerprints (its kernel is attested in-window via
    winnow_pairs / winnow_report / winnow_poly, which call the same
    builder). Queries added THIS round are appended at the very end.
    scripts/check_oracles.py + pytest re-prove the whole surface locally
    every round."""
    return {
        # -- NEW in r5, never driver-attested: lead the window --
        "bm25_search_index": q_bm25_search_index,
        "dsir_select": q_dsir_select,
        "length_batches": q_length_batches,
        "batch_pad_stats": q_batch_pad_stats,
        "vocab_coverage": q_vocab_coverage,
        "curriculum_order": q_curriculum_order,
        "dsir_sample": q_dsir_sample,
        "tokenizer_fertility": q_tokenizer_fertility,
        "shard_manifest": q_shard_manifest,
        "token_budget": q_token_budget,
        "pack_doc_spans": q_pack_doc_spans,
        "stratified_shards": q_stratified_shards,
        "interleave_key": q_interleave_key,
        # -- r4-green tier (newest driver row is r4, rotated out of
        #    the r5 window): window fill, first 37 in tail order --
        "hash_tokenize": q_hash_tokenize,
        "trim_dup_spans": q_trim_dup_spans,
        "corpus_to_shards": q_corpus_to_shards,
        "pack_sequences": q_pack_sequences,
        "remap_rare_tokens": q_remap_rare_tokens,
        "pack_with_boundaries": q_pack_with_boundaries,
        "pipeline_counters_rollup": q_pipeline_counters_rollup,
        "relational_rollup": q_relational_rollup,
        "events_rollup": q_events_rollup,
        "service_percentiles": q_service_percentiles,
        "build_vocab": q_build_vocab,
        "encode_with_vocab": q_encode_with_vocab,
        "mixture_upsample": q_mixture_upsample,
        "policy_decisions": q_policy_decisions,
        "sink_counts": q_sink_counts,
        "routed_keep_rows": q_routed_keep_rows,
        "rate_limit_overflow": q_rate_limit_overflow,
        "error_short_circuit": q_error_short_circuit,
        "slowest_traces": q_slowest_traces,
        "exported_dedup_anti": q_exported_dedup_anti,
        "force_rules": q_force_rules,
        "events_latency_policy": q_events_latency_policy,
        "events_hash_sampling": q_events_hash_sampling,
        "events_compression_agg": q_events_compression_agg,
        "events_attr_matchers": q_events_attr_matchers,
        "events_topk": q_events_topk,
        "compression_remainder": q_compression_remainder,
        "orders_enrich_join": q_orders_enrich_join,
        "lineitem_semi_join": q_lineitem_semi_join,
        "lineitem_anti_join": q_lineitem_anti_join,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_topk": q_embedding_topk,
        # ---- window boundary (exactly 50 above) ----
        # -- r4-green remainder (13): newest row stays r4 — 2 rounds
        #    old after r6, within the contract bound; leads the r7
        #    window together with queries added in r6 --
        "trace_assembly": q_trace_assembly,
        "trace_assembly_salted": q_trace_assembly_salted,
        "configurable_policy": q_configurable_policy,
        "combine_all_match": q_combine_all_match,
        "combine_consensus": q_combine_consensus,
        "combine_priority": q_combine_priority,
        "export_projection": q_export_projection,
        "compression_export": q_compression_export,
        "buffer_stats": q_buffer_stats,
        "sql_on_lake": q_sql_on_lake,
        "operation_type": q_operation_type,
        "resource_attrs": q_resource_attrs,
        "error_traces_recent": q_error_traces_recent,
        # -- r5-green tier (green in CORRECTNESS_r05): fills the r7
        #    window after the r4 remainder --
        "fim_transform": q_fim_transform,
        "bigram_novelty": q_bigram_novelty,
        "quantized_topk": q_quantized_topk,
        "chunk_documents": q_chunk_documents,
        "stratified_sample": q_stratified_sample,
        "mask_tokens": q_mask_tokens,
        "pmi_collocations": q_pmi_collocations,
        "corpus_report": q_corpus_report,
        "dedup_representatives": q_dedup_representatives,
        # rows-only by nature: greedy first-fit is a per-bucket recurrence
        # no SQL can express; scalar-reference pytest carries correctness
        "pack_documents_greedy": q_pack_documents_greedy,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "decontaminate_corpus": q_decontaminate_corpus,
        "apply_dedup": q_apply_dedup,
        "dedup_lines": q_dedup_lines,
        "source_overlap": q_source_overlap,
        "kmeans_clusters": q_kmeans_clusters,
        "semantic_dedup": q_semantic_dedup,
        "bm25_topk": q_bm25_topk,
        "ngram_counts": q_ngram_counts,
        "bpe_encode": q_bpe_encode,
        "bpe_encode_ids": q_bpe_encode_ids,
        "span_corruption": q_span_corruption,
        "span_service_stats": q_span_service_stats,
        "span_compression": q_span_compression,
        "enrich_broadcast": q_enrich_broadcast,
        "exported_dedup_ttl": q_exported_dedup_ttl,
        "trace_readiness": q_trace_readiness,
        "events_session_agg": q_events_session_agg,
        "events_sessionize": q_events_sessionize,
        "dedup_components": q_dedup_components,
        "parse_spans": q_parse_spans,
        "dup_token_spans": q_dup_token_spans,
        "doc_rarity": q_doc_rarity,
        "winnow_pairs": q_winnow_pairs,
        "winnow_report": q_winnow_report,
        "contamination": q_contamination,
        "assign_shards": q_assign_shards,
        "winnow_poly": q_winnow_poly,
        "prepare_corpus": q_prepare_corpus,
        "split_corpus": q_split_corpus,
        "vocab_histogram": q_vocab_histogram,
        "mixture_sample": q_mixture_sample,
        "text_stats": q_text_stats,
        "repetition_signals": q_repetition_signals,
        "redact_pii": q_redact_pii,
        "token_counts": q_token_counts,
        "doc_quality": q_doc_quality,
        "multimodal_features": q_multimodal_features,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        # -- held out by the documented exceptions: rows-only approx-ANN
        #    pair (recall pytest is the stronger check) and
        #    winnow_fingerprints (attested via the winnow_* compositions
        #    that call the same builder) --
        "lsh_topk_approx": q_lsh_topk_approx,
        "ivf_topk_approx": q_ivf_topk_approx,
        "winnow_fingerprints": q_winnow_fingerprints,
        # -- NEW this round (r6) are appended below this line and lead
        #    the r7 window per the contract --
        "phash_pairs": q_phash_pairs,
        "phash_groups": q_phash_groups,
        "audio_fingerprint": q_audio_fingerprint,
        "video_frame_phash": q_video_frame_phash,
        "corpus_dedup_exact": q_corpus_dedup_exact,
        "corpus_dedup_minhash": q_corpus_dedup_minhash,
        "vocab_drift": q_vocab_drift,
        "media_neardup_components": q_media_neardup_components,
        "bm25_threshold_matches": q_bm25_threshold_matches,
    }


def q_fim_transform(spark, sf_dir):
    """Deterministic PSM fill-in-the-middle over the tokenized table:
    md5-hash-selected 50% of docs reordered to [PRE]prefix[SUF]suffix
    [MID]middle with hash-chosen split points (sentinels -1/-2/-3)."""
    from otel_tail_sampler_spark.operators.augment import fim_transform

    tok = _dataset(sf_dir)["tokenized"]
    out = fim_transform(
        spark.read.parquet(tok),
        pre_id=-1, mid_id=-2, suf_id=-3, rate=0.5, min_len=4,
    )
    return out.select(
        "doc_id",
        "fim_applied",
        F.size("tokens").cast("int").alias("n_tok"),
        _tokens_md5().alias("tokens_md5"),
    )


def q_bigram_novelty(spark, sf_dir):
    """Capped bigram-model novelty/fluency signals (the transcendental-
    free perplexity-filter stand-in): unseen-bigram fraction + model
    frequency mass per document, integer-exact ratios."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        score_bigram_novelty,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    model = build_bigram_model(tok, model_size=5000)
    out = score_bigram_novelty(tok, model)
    nb = F.col("n_bigrams")
    return out.select(
        "doc_id",
        "n_bigrams",
        "n_unseen",
        "hit_freq_sum",
        F.round(
            F.when(nb > 0, F.col("n_unseen").cast("double") / nb), 6
        ).alias("unseen_frac"),
    )


def q_quantized_topk(spark, sf_dir):
    """Exact-integer ANN over int8-quantized embeddings: the quantization
    is the only approximation; scoring is bit-reproducible (int dot +
    correctly-rounded sqrt/divide), so unlike the float-cosine ANN pair
    this one carries a full value-hash oracle."""
    from otel_tail_sampler_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    emb = _emb(spark, sf_dir)
    cq = quantize_embeddings(emb)
    qq = quantize_embeddings(
        emb.filter(F.col("vec_id") < 4)
    ).withColumnRenamed("vec_id", "query_id")
    return quantized_topk(cq, qq, k=5, query_id="query_id").select(
        "query_id",
        "corpus_id",
        F.round("qcos", 6).alias("qcos"),
        "rank",
    )


def q_chunk_documents(spark, sf_dir):
    """Sliding-window context chunking over the tokenized table
    (max_len 64 / stride 48 — overlap 16; sized so sf0.01 docs chunk)."""
    from otel_tail_sampler_spark.operators.corpus import chunk_documents

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    out = chunk_documents(tok, max_len=64, stride=48)
    return out.select(
        "doc_id", "chunk_id", _tokens_md5().alias("tokens_md5"), "n_tok"
    )


def q_stratified_sample(spark, sf_dir):
    """Exact per-source quota (min(quota, group size) smallest md5 ranks
    survive), two-level salted selection."""
    from otel_tail_sampler_spark.operators.corpus import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, quota=10).select(
        "doc_id", "source", "lang"
    )


def q_mask_tokens(spark, sf_dir):
    """Deterministic MLM corruption: per-position md5 masking at 15%."""
    from otel_tail_sampler_spark.operators.augment import mask_tokens

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    out = mask_tokens(tok, mask_id=-9, rate=0.15)
    return out.select(
        "doc_id",
        "n_masked",
        F.size("tokens").cast("int").alias("n_tok"),
        _tokens_md5().alias("tokens_md5"),
    )


def q_pmi_collocations(spark, sf_dir):
    """Top-5 right collocates per token by the exact PMI-proportional
    ratio (capped bigram model, min pair count 3)."""
    from otel_tail_sampler_spark.operators.corpus import pmi_collocations

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    out = pmi_collocations(tok, top_k=5, min_count=3, model_size=5000)
    return out.select(
        "token", "neighbor", "pair_freq", "freq_a", "freq_b",
        F.round("score", 6).alias("score"), "rank",
    )


def q_corpus_report(spark, sf_dir):
    """Per-source corpus health rollup (docs, exact-dup rate, word-length
    distribution incl. exact p50)."""
    from otel_tail_sampler_spark.operators.corpus import corpus_report

    return corpus_report(_docs(spark, sf_dir))


def q_dedup_representatives(spark, sf_dir):
    """Keep-the-longest election per near-dup cluster: LSH components +
    word-count metric, argmax(metric, tie min id) as a map-combinable
    aggregation (no window over the cluster)."""
    from otel_tail_sampler_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
        pick_dedup_representatives,
    )
    from otel_tail_sampler_spark.operators.text import token_count_ws

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=6).select(
        "id_a", "id_b"
    )
    comps = dedup_components(pairs, all_ids=docs)
    metrics = docs.select(
        "doc_id", token_count_ws(F.col("text")).cast("int").alias("n_words")
    )
    return pick_dedup_representatives(comps, metrics)


def q_pack_documents_greedy(spark, sf_dir):
    """Doc-boundary-preserving greedy packing (whole docs per example,
    first-fit per hash bucket). Recurrence semantics — no SQL oracle by
    nature; the scalar-reference + partition-independence pytest carries
    correctness and the driver records rows-only."""
    from otel_tail_sampler_spark.operators.packing import (
        pack_documents_greedy,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    out = pack_documents_greedy(tok, max_len=256)
    return out.select(
        "example_id", _tokens_md5().alias("tokens_md5"), "n_tok", "n_docs"
    )


def q_dedup_cluster_stats(spark, sf_dir):
    """Near-dup cluster size histogram over the LSH component graph."""
    from otel_tail_sampler_spark.operators.dedup import (
        dedup_cluster_stats,
        dedup_components,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=6).select(
        "id_a", "id_b"
    )
    return dedup_cluster_stats(dedup_components(pairs, all_ids=docs))


def q_decontaminate_corpus(spark, sf_dir):
    """APPLY decontamination (GPT-3 appendix-C direction): drop every
    train doc whose 8-gram containment of ANY eval doc reaches 0.2 —
    same deterministic split / threshold / train-side df cap as the
    `contamination` report query, surviving rows out."""
    from otel_tail_sampler_spark.operators.dedup import decontaminate_corpus

    docs = _docs(spark, sf_dir)
    out = decontaminate_corpus(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
        shingle_n=8,
        threshold=0.2,
        max_gram_df=2,
    )
    return out.select("doc_id", "source", F.md5("text").alias("text_md5"))


def q_apply_dedup(spark, sf_dir):
    """APPLY near-dup dedup: LSH pair graph -> components -> keep-the-
    longest election -> surviving document rows (one representative per
    cluster plus all singletons)."""
    from otel_tail_sampler_spark.operators.dedup import (
        apply_dedup,
        minhash_lsh_pairs,
    )
    from otel_tail_sampler_spark.operators.text import token_count_ws

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=6).select(
        "id_a", "id_b"
    )
    docs_m = docs.withColumn(
        "n_words", token_count_ws(F.col("text")).cast("int")
    )
    out = apply_dedup(docs_m, pairs, metric_col="n_words")
    return out.select("doc_id", "source", F.md5("text").alias("text_md5"))


def q_dedup_lines(spark, sf_dir):
    """C4/CCNet-style global line dedup over a deterministically planted
    multi-line corpus: every doc gains a shared license-header line and
    every fifth doc a footer line; only each line's first (doc_id, pos)
    occurrence survives and texts are rebuilt."""
    from otel_tail_sampler_spark.operators.dedup import dedup_lines

    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("all rights reserved licensed under the apache license"),
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("subscribe to our newsletter for updates"),
            ),
        ).alias("text"),
    )
    out = dedup_lines(planted, min_count=2)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_lines_removed"
    )


def q_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix over the MinHash-LSH pair graph:
    per unordered (source_a, source_b) label pair, how many near-dup
    pairs connect them (diagonal = within-source duplication)."""
    from otel_tail_sampler_spark.operators.dedup import (
        minhash_lsh_pairs,
        source_overlap,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=6).select(
        "id_a", "id_b"
    )
    return source_overlap(pairs, docs)


def q_lsh_topk_approx(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN (approximate by construction)."""
    from otel_tail_sampler_spark.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_topk(emb, queries_df, k=5, n_planes=4, dim=64).select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_ivf_topk_approx(spark, sf_dir):
    """IVF coarse-quantized ANN (approximate; driver-sampled k-means train)."""
    from otel_tail_sampler_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries_df, k=5, n_clusters=8, nprobe=3).select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_multimodal_features(spark, sf_dir):
    """REAL multimodal decode kernels (pure-numpy PPM/WAV/VID0): stats of the
    DECODED payloads; oracle = ground truth computed on the raw arrays BEFORE
    encoding (decode must invert encode)."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_truth,
        media_stats,
        synthetic_media,
    )

    ensure_media_truth(n=64, seed=42)  # oracle side reads this parquet
    return media_stats(synthetic_media(spark, n=64, seed=42))


def q_phash_pairs(spark, sf_dir):
    """Perceptual-hash image near-dup pairs (r6): dHash over the REAL
    PPM decode path, Manku-style banded Hamming index (tau=3 < 4 bands
    -> EXACT recall by pigeonhole) over DISTINCT hash values. Oracle =
    pre-encode scalar-reference hashes re-banded independently in
    DuckDB bit-op SQL."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_phash_truth,
        phash_images,
        phash_pairs,
        synthetic_media_neardup,
    )

    ensure_media_phash_truth(n_base=48, seed=7)
    media = synthetic_media_neardup(spark, n_base=48, seed=7)
    return phash_pairs(phash_images(media), tau=3, n_bands=4)


def q_phash_groups(spark, sf_dir):
    """Exact-duplicate image groups by identical dHash (the id-level
    companion of phash_pairs' distinct-hash core): per-hash member
    count + min-id representative."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_phash_truth,
        phash_images,
        synthetic_media_neardup,
    )

    ensure_media_phash_truth(n_base=48, seed=7)
    media = synthetic_media_neardup(spark, n_base=48, seed=7)
    return (
        phash_images(media)
        .groupBy("phash_d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.min("media_id").alias("rep_id"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------


def _hfrac_sql(key_sql: str, seed: str) -> str:
    return (
        f"(('0x' || substring(md5({key_sql} || '|{seed}'), 1, 8))::BIGINT"
        " / 4294967296.0)"
    )


def _summaries_cte(spans_path: str) -> str:
    """DuckDB CTE computing trace summaries from the field-level oracle
    parquet (independent of the Spark parser/assembly under test)."""
    return f"""
WITH sp AS (SELECT * FROM '{spans_path}'),
summaries AS (
  SELECT trace_id,
         any_value(svc_first) AS service_name,
         count(*) AS span_count,
         max(CASE WHEN status_code = 2 THEN 1 ELSE 0 END) = 1 AS has_error,
         sum(CASE WHEN status_code = 2 THEN 1 ELSE 0 END)::BIGINT AS error_count,
         max(duration_ms) AS max_duration_ms,
         min(timestamp_ms) AS min_timestamp_ms,
         max(timestamp_ms) AS max_timestamp_ms,
         array_to_string(list_sort(list(DISTINCT operation_name)), ',') AS operations_csv,
         substring(min(CASE WHEN parent_span_id IS NULL
             THEN printf('%020d|', timestamp_ms) || span_id END), 22) AS root_span_id
  FROM (
    SELECT *, substring(min(printf('%020d|', timestamp_ms) || span_id || '|' || service_name)
              OVER (PARTITION BY trace_id), 39) AS svc_first
    FROM sp
  )
  GROUP BY trace_id
),
decided AS (
  SELECT *,
    (has_error AND {_hfrac_sql('trace_id', 'error_sampling')} < 0.8) AS p_error,
    (max_duration_ms > 4000 AND {_hfrac_sql('trace_id', 'latency_sampling')} < 1.0) AS p_latency,
    (span_count > 100) AS p_cardinality
  FROM summaries
),
final AS (
  SELECT *,
    CASE WHEN p_error OR p_latency OR p_cardinality THEN 'keep' ELSE 'drop' END AS decision,
    CASE WHEN p_error THEN 'error_sampling'
         WHEN p_latency THEN 'latency_sampling'
         WHEN p_cardinality THEN 'cardinality_sampling'
         ELSE 'no_policy_matched' END AS decision_policy
  FROM decided
)
"""


def _shingle_sql(n: int = 3) -> str:
    """DuckDB word n-gram list from a text column named ``text``."""
    return (
        f"[array_to_string(w[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(w) - {n - 2}, 1))]"
    )


def _d5_oracle_select(strategy: str) -> str:
    """DuckDB replica of the D5 combiner over the _d5_cfg policy set:
    error@0.9, latency>2000@1.0, cardinality>4 (always true at span_count=5),
    probabilistic@0.5. Attribution = first firing policy in config order."""
    flags = f"""
    , d5 AS (
      SELECT trace_id,
        (has_error AND {_hfrac_sql('trace_id', 'error_sampling')} < 0.9) AS f_err,
        (max_duration_ms > 2000) AS f_lat,
        (span_count > 4) AS f_card,
        ({_hfrac_sql('trace_id', 'probabilistic_sampling')} < 0.5) AS f_prob
      FROM summaries
    )"""
    if strategy == "all_match":
        keep = "f_err AND f_lat AND f_card AND f_prob"
    elif strategy == "consensus":
        keep = (
            "(f_err::INT + f_lat::INT + f_card::INT + f_prob::INT) / 4.0 >= 0.75"
        )
    else:  # priority == any_match keep set, first-win attribution
        keep = "f_err OR f_lat OR f_card OR f_prob"
    return f"""
    {flags}
    SELECT trace_id,
           CASE WHEN {keep} THEN 'keep' ELSE 'drop' END AS decision,
           CASE WHEN {keep} THEN
             CASE WHEN f_err THEN 'error_sampling'
                  WHEN f_lat THEN 'latency_sampling'
                  WHEN f_card THEN 'cardinality_sampling'
                  WHEN f_prob THEN 'probabilistic_sampling' END
           ELSE 'no_policy_matched' END AS decision_policy
    FROM d5
    """


def q_kmeans_clusters(spark, sf_dir):
    """Integer-exact Lloyd's k-means over int8-quantized embeddings
    (k=8, 2 iterations, init = k smallest ids): distances are int64
    squared L2, centroid updates truncated integer division — every step
    bit-reproducible, so the full assignment carries a value-hash oracle
    (float k-means cannot: sum order shifts centroids)."""
    from otel_tail_sampler_spark.operators.clustering import kmeans_quantized
    from otel_tail_sampler_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_emb(spark, sf_dir))
    return kmeans_quantized(q, k=8, iters=2)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the corpus, then drop
    every vector with a smaller-id cluster-mate at cosine >= 0.4 (threshold
    matches embedding_neardup so real drops occur on this data). The cosine
    test is cross-multiplied to int64 — exact keep set."""
    from otel_tail_sampler_spark.operators.clustering import semantic_dedup
    from otel_tail_sampler_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_emb(spark, sf_dir))
    return semantic_dedup(q, k=8, iters=2, tau=(2, 5))


def q_bm25_topk(spark, sf_dir):
    """Fixed-point BM25 sparse retrieval (Robertson & Zaragoza 2009, k1=1.2
    b=0.75 as exact rationals, 2^20 scale): 3 query docs against the whole
    tokenized corpus, top-10 each. All-integer scoring makes this the first
    retrieval query with a full value-hash oracle; the corpus-side plan is
    map-only (broadcast query-term semi filter before any aggregation)."""
    from otel_tail_sampler_spark.operators.retrieval import bm25_topk

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    qs = tok.filter(F.col("doc_id") < "span-000000000003").select(
        F.col("doc_id").alias("query_id"), "tokens"
    )
    return bm25_topk(tok, qs, k=10)


def q_bm25_search_index(spark, sf_dir):
    """The SCALE shape of BM25 retrieval: bm25_index materializes the
    inverted index to parquet (ONE corpus pass, term-sorted row groups),
    bm25_search ranks the same 3 queries against the written index —
    value-identical to the one-shot by construction (the split-equals-
    one-shot equality is also pinned in tests/test_retrieval.py), so the
    oracle is the one-shot's SQL verbatim. This attests the standing-
    index path, not just the convenience path (VERDICT r4 #8). The index
    lands under an sf-keyed /tmp dir, overwrite-idempotent across runs;
    it must outlive this call because the returned frame reads it at
    collect time."""
    import hashlib
    import tempfile

    from otel_tail_sampler_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    qs = tok.filter(F.col("doc_id") < "span-000000000003").select(
        F.col("doc_id").alias("query_id"), "tokens"
    )
    key = hashlib.md5(str(sf_dir).encode()).hexdigest()[:12]
    out = f"{tempfile.gettempdir()}/otel_tss_bm25_index_{key}"
    post, stats, nt = bm25_index(tok, out_dir=out, index_partitions=8)
    return bm25_search(post, stats, nt, qs, k=10)


def q_dsir_select(spark, sf_dir):
    """DSIR importance selection (Xie et al. 2023): hashed-bigram bucket
    models for the svc-00 TARGET domain vs the full RAW corpus; every
    doc scored by the exact fixed-point likelihood ratio; deterministic
    top-500 most-target-like selection (Gumbel resampling replaced by
    rank order — module notes in operators/selection.py). Target is a
    slice of raw, so the model builds in ONE corpus pass."""
    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
        dsir_select,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    model = build_dsir_model_partitioned(
        tok, F.col("source") == "svc-00", n_buckets=1 << 16
    )
    return dsir_select(tok, model, k=500, n_buckets=1 << 16)


def q_length_batches(spark, sf_dir):
    """Length-bucketed batch formation: every tokenized doc assigned a
    deterministic (bucket, batch_seq, pos_in_batch) — similar-length
    sequences grouped into 32-doc batches in md5-shuffled order, the
    pad-waste-minimizing loader layout (operators/packing.py)."""
    from otel_tail_sampler_spark.operators.packing import form_batches

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return form_batches(
        tok, batch_size=32, bucket_edges=(48, 56, 64)
    ).select("doc_id", "n_tok", "bucket", "batch_seq", "pos_in_batch")


def q_batch_pad_stats(spark, sf_dir):
    """Per-batch padding accounting over the length-bucketed batches:
    exact pad_tokens = n_docs * max_len - sum_len for every batch."""
    from otel_tail_sampler_spark.operators.packing import (
        batch_stats,
        form_batches,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return batch_stats(
        form_batches(tok, batch_size=32, bucket_edges=(48, 56, 64))
    ).select(
        "bucket", "batch_seq", "n_docs", "max_len", "sum_len", "pad_tokens"
    )


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: exact fraction of corpus token
    occurrences covered by the top-N token types at power-of-two
    candidate vocab sizes — the vocab-sizing knee chart."""
    from otel_tail_sampler_spark.operators.corpus import vocab_coverage

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return vocab_coverage(
        tok, cutoffs=(64, 256, 1024, 4096, 16384)
    )


def q_tokenizer_fertility(spark, sf_dir):
    """Per-source tokenizer fertility: exact chars-per-token (2^20 fixed
    point) for whitespace vs BPE-ish subword tokenization — the
    tokenizer-selection rollup."""
    from otel_tail_sampler_spark.operators.text import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir))


def q_interleave_key(spark, sf_dir):
    """Stride-scheduled mixture-stable stream order: svc-00..03 at
    weight 2, svc-04..07 at weight 1 — every prefix of the key order
    holds the 2:1 mixture (the deterministic analog of per-step
    mixture sampling; composes with pack_sequences)."""
    from otel_tail_sampler_spark.operators.packing import interleave_key

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    weights = {f"svc-{i:02d}": (2 if i < 4 else 1) for i in range(8)}
    return interleave_key(tok, weights).select(
        "doc_id", "source", "interleave_key"
    )


def q_stratified_shards(spark, sf_dir):
    """Stratified shard assignment: every source spread across 8 shards
    exactly round-robin in md5 order — strict per-shard mixture control
    (assign_shards balances sources only in expectation)."""
    from otel_tail_sampler_spark.operators.packing import (
        assign_shards_stratified,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return assign_shards_stratified(
        tok, n_shards=8, by="source", id_col="doc_id"
    ).select("doc_id", "source", "shard", "stratum_pos")


def q_pack_doc_spans(spark, sf_dir):
    """Packing with block-diagonal attention metadata: each 256-token
    example carries its (offset, length) document-piece layout —
    derived from the same sorted piece structs the tokens flatten from,
    stringified for the driver's canonicalization."""
    from otel_tail_sampler_spark.operators.packing import pack_sequences
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    toks = hash_tokenize(_docs(spark, sf_dir), vocab_size=4096)
    packed = pack_sequences(toks, max_len=256, emit_spans=True)
    spans_str = F.concat_ws(
        ";",
        F.transform(
            F.col("doc_spans"),
            lambda s: F.concat_ws(
                ":",
                s.getField("offset").cast("string"),
                s.getField("length").cast("string"),
            ),
        ),
    )
    return packed.select(
        "example_id",
        _tokens_md5().alias("tokens_md5"),
        "n_tok",
        spans_str.alias("spans_str"),
    )


def q_token_budget(spark, sf_dir):
    """Exact per-source token-budget enforcement (the water-filling
    solver's apply side): each source keeps its md5-order document
    prefix up to 100k tokens — monotone in the budget, engine-exact."""
    from otel_tail_sampler_spark.operators.packing import (
        enforce_token_budget,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return enforce_token_budget(tok, 100_000).select(
        "doc_id", "source", "n_tok", "cum_tokens"
    )


def q_shard_manifest(spark, sf_dir):
    """Shard finalization metadata over the full prep chain (tokenize ->
    pack -> shard): per-shard example/token counts + the shard_pos-order
    content digest a loader verifies before trusting a shard file."""
    from otel_tail_sampler_spark.operators.packing import (
        pack_sequences,
        shard_manifest,
    )
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    toks = hash_tokenize(_docs(spark, sf_dir), vocab_size=4096)
    packed = pack_sequences(toks, max_len=256, id_col="doc_id")
    return shard_manifest(packed, n_shards=8, id_col="example_id")


def q_dsir_sample(spark, sf_dir):
    """DSIR importance RESAMPLING (the paper's sampled selection, made
    deterministic): weighted Bernoulli keep with an exact-integer md5
    acceptance test at rate 0.5 — high-ratio docs near-certain keeps,
    low-ratio docs kept proportionally."""
    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
        dsir_sample,
    )

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    model = build_dsir_model_partitioned(
        tok, F.col("source") == "svc-00", n_buckets=1 << 16
    )
    return dsir_sample(tok, model, rate=0.5, n_buckets=1 << 16)


def q_bm25_threshold_matches(spark, sf_dir):
    """Retrieval-based decontamination report (r6): every (benchmark
    query, corpus doc) pair at fixed-point BM25 score >= 40M — the
    score-bar flavor a contaminated doc outside any top-k still trips;
    a decontamination step anti-joins the flagged ids."""
    from otel_tail_sampler_spark.operators.retrieval import bm25_matches

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    qs = tok.filter(F.col("doc_id") < "span-000000000003").select(
        F.col("doc_id").alias("query_id"), "tokens"
    )
    return bm25_matches(tok, qs, min_score_fp=40_000_000)


def q_media_neardup_components(spark, sf_dir):
    """Id-level perceptual near-dup components (r6): identical-hash
    groups glue to their min-id representative, cross-hash edges ride
    phash_pairs' banded index, components via min-label propagation.
    Oracle = recursive transitive closure in DuckDB over the pre-encode
    truth hashes (the dedup_components oracle pattern)."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_phash_truth,
        media_phash_neardup,
        synthetic_media_neardup,
    )

    ensure_media_phash_truth(n_base=48, seed=7)
    media = synthetic_media_neardup(spark, n_base=48, seed=7)
    return media_phash_neardup(media, tau=3, n_bands=4)


def q_vocab_drift(spark, sf_dir):
    """Token-distribution drift between two corpus slices (the crawl-N
    vs crawl-N+1 monitoring question; r6): exact fixed-point occurrence
    rates and their delta per token, top 500 by |drift|."""
    from otel_tail_sampler_spark.operators.corpus import vocab_drift

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return vocab_drift(
        tok.where(F.col("source") < "svc-04"),
        tok.where(F.col("source") >= "svc-04"),
        top=500,
    )


def q_corpus_dedup_exact(spark, sf_dir):
    """Incremental ingestion, exact flavor (r6): which NEW-batch docs
    already exist in the standing corpus? ref = even doc_ids; new = odd
    doc_ids with every doc_id % 10 == 1 text DETERMINISTICALLY replaced
    by its even predecessor's text (planted in BOTH engines — the
    random corpus has no natural cross-split exact dups). The ref side
    aggregates to one (digest, min-id, copies) row per distinct text."""
    from otel_tail_sampler_spark.operators.dedup import reference_dup_pairs

    d = _docs(spark, sf_dir)
    even = d.where(d.doc_id % 2 == 0)
    prev = even.select(
        (F.col("doc_id") + 1).alias("doc_id"), F.col("text").alias("_pt")
    )
    new = (
        d.where(d.doc_id % 2 == 1)
        .join(prev, "doc_id", "left")
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") % 10 == 1) & F.col("_pt").isNotNull(),
                F.col("_pt"),
            ).otherwise(F.col("text")),
        )
        .drop("_pt")
    )
    return reference_dup_pairs(new, even, method="exact")


def q_corpus_dedup_minhash(spark, sf_dir):
    """Incremental ingestion, near-dup flavor (r6): banded-MinHash
    candidates of the odd-id NEW batch against the even-id standing
    corpus (cross pairs only — never new x new or ref x ref), with
    n_agree = equal signature components (the Jaccard estimate a
    min_agree verification bar thresholds on)."""
    from otel_tail_sampler_spark.operators.dedup import reference_dup_pairs

    d = _docs(spark, sf_dir)
    return reference_dup_pairs(
        d.where(d.doc_id % 2 == 1),
        d.where(d.doc_id % 2 == 0),
        method="minhash",
        num_hashes=12,
        bands=6,
    )


def q_audio_fingerprint(spark, sf_dir):
    """64-bit temporal energy fingerprint of REAL-decoded WAV audio
    (r6): 65 integer sample windows, exact |x| energy sums, dHash-style
    successor comparisons. Oracle = pre-encode scalar-reference
    fingerprints of the same raw samples."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_fp_truth,
        fingerprint_audio,
        synthetic_media,
    )

    ensure_media_fp_truth(n=64, seed=42)
    return fingerprint_audio(synthetic_media(spark, n=64, seed=42))


def q_video_frame_phash(spark, sf_dir):
    """Per-frame perceptual hashes of REAL-decoded VID0 video (r6):
    every frame through the dHash/aHash kernel. Oracle = pre-encode
    scalar-reference hashes of the raw frame arrays."""
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_fp_truth,
        phash_video_frames,
        synthetic_media,
    )

    ensure_media_fp_truth(n=64, seed=42)
    return phash_video_frames(synthetic_media(spark, n=64, seed=42))


def q_curriculum_order(spark, sf_dir):
    """Short-to-long curriculum: exact global rank + 4 equal-population
    phases by token length (md5 tie-break within a length) — the classic
    length curriculum, reconstructed without a global sort."""
    from otel_tail_sampler_spark.operators.packing import curriculum_order

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return curriculum_order(tok, "n_tok", n_phases=4).select(
        "doc_id", "n_tok", "rank", "phase"
    )


def q_bpe_encode(spark, sf_dir):
    """BPE subword tokenizer (Sennrich et al. 2016): merges learned on
    the 256 smallest-md5(doc_id|'bpe') docs (driver-bounded sample, the
    IVF-training posture), applied corpus-wide via the shuffle-free
    word-cached mapInPandas encode. The oracle replays the apply with an
    INDEPENDENT nested-replace formulation (merge pass == replace-all on
    the spaced char representation); the shared pure-Python learner is
    guarded by hand-computed planted tests (tests/test_bpe.py)."""
    from otel_tail_sampler_spark.operators.bpe import (
        apply_bpe,
        learn_bpe_merges,
    )

    docs = _docs(spark, sf_dir)
    merges = learn_bpe_merges(docs, num_merges=48, sample_docs=256)
    return apply_bpe(docs, merges).select(
        "doc_id",
        "n_pieces",
        F.md5(F.concat_ws(",", "pieces")).alias("pieces_md5"),
    )


def q_bpe_encode_ids(spark, sf_dir):
    """BPE straight to dense ids (UNK=0 for out-of-sample chars): the
    learned-tokenizer bridge into the input_hint tokenized shape — raw
    text becomes (doc_id, tokens array<int>, n_tok) that pack/shard/
    remap/dup-span compose with. Oracle replays pieces via the
    nested-replace chain, then maps through the vocab embedded as a
    VALUES table (lockstep-unnest positional join)."""
    from otel_tail_sampler_spark.operators.bpe import (
        apply_bpe_ids,
        learn_bpe,
    )

    docs = _docs(spark, sf_dir)
    merges, vocab = learn_bpe(docs, num_merges=48, sample_docs=256)
    return apply_bpe_ids(docs, merges, vocab).select(
        "doc_id",
        "n_tok",
        F.md5(F.concat_ws(",", "tokens")).alias("tokens_md5"),
    )


def q_span_corruption(spark, sf_dir):
    """T5-style span corruption (Raffel et al. 2020) over the tokenized
    table: deterministic block grid (block 32, span 8, rate 0.25 — spans
    never overlap by construction, which is what makes the objective
    SQL-replayable), sentinel-numbered inputs + targets with the final
    sentinel terminator."""
    from otel_tail_sampler_spark.operators.augment import span_corruption

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    out = span_corruption(
        tok, sentinel_base=-100, block=32, span_len=8, rate=0.25, seed="t5"
    )
    return out.select(
        "doc_id",
        "n_spans",
        F.size("inputs").alias("n_input"),
        F.size("targets").alias("n_target"),
        F.md5(F.concat_ws(",", "inputs")).alias("inputs_md5"),
        F.md5(F.concat_ws(",", "targets")).alias("targets_md5"),
    )


def q_ngram_counts(spark, sf_dir):
    """Capped corpus trigram counts (the KenLM-prep count table;
    general-n sibling of build_bigram_model): top-1000 trigrams by
    (freq DESC, gram ASC), gram keyed by comma-joined token ids —
    string binary ordering is engine-identical, so the cap tie-break
    is exact. The independent DuckDB formulation (list comprehension
    slices) guards the zip_with construction."""
    from otel_tail_sampler_spark.operators.corpus import ngram_counts

    tok = spark.read.parquet(_dataset(sf_dir)["tokenized"])
    return ngram_counts(tok, n=3, top=1000)


def oracle_sql() -> dict[str, str]:
    from otel_tail_sampler_spark.operators.multimodal import ensure_media_truth

    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_phash_truth,
    )

    paths = _oracle_paths()
    sp = paths["oracle"]
    S = _summaries_cte(sp)
    from otel_tail_sampler_spark.operators.multimodal import (
        ensure_media_fp_truth,
    )

    media_truth = ensure_media_truth(n=64, seed=42)
    phash_truth = ensure_media_phash_truth(n_base=48, seed=7)
    afp_truth, vframe_truth = ensure_media_fp_truth(n=64, seed=42)

    stop = {k: ", ".join(f"'{w}'" for w in v) for k, v in
            __import__("otel_tail_sampler_spark.operators.text", fromlist=["STOPWORDS"]).STOPWORDS.items()}

    simhash_bits = []
    for k in range(16):
        simhash_bits.append(
            f"sum(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS b{k}"
        )
    simhash_fp = " + ".join(f"(CASE WHEN b{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(16))

    # Karp-Rabin power literals shared with winnow_fingerprints_poly
    from otel_tail_sampler_spark.operators.text import _poly_powers

    pwl = "[" + ", ".join(str(x) for x in _poly_powers(16, 257, 1_048_573)) + "]::DOUBLE[]"

    # PII scrub: same RE2-safe literals as the Spark operator, applied in the
    # same sequential order (counts observe the partially-redacted stream).
    from otel_tail_sampler_spark.operators.text import PII_ORDER, PII_PATTERNS

    redact_sql = """
        WITH s0 AS (
          SELECT doc_id,
                 text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.'
                      || (doc_id % 200)::VARCHAR || '.0.1 tel 555-867-5309' AS t0
          FROM documents
        )"""
    prev = "s0"
    carried = []
    for i, name in enumerate(PII_ORDER):
        pat = PII_PATTERNS[name].replace("'", "''")
        cols = ", ".join(["doc_id"] + carried) if carried else "doc_id"
        redact_sql += f""",
        s{i + 1} AS (
          SELECT {cols},
                 len(regexp_extract_all(t{i}, '{pat}'))::INT AS n_{name},
                 regexp_replace(t{i}, '{pat}', '<{name.upper()}>', 'g') AS t{i + 1}
          FROM s{i}
        )"""
        carried.append(f"n_{name}")
        prev = f"s{i + 1}"
    redact_sql += f"""
        SELECT doc_id, {', '.join(carried)}, md5(t{len(PII_ORDER)}) AS redacted_md5
        FROM {prev}
    """

    # same deterministic hyperplanes as embedding_dup_pairs_lsh (seed 42);
    # repr() round-trips each rounded double exactly, so DuckDB parses the
    # identical IEEE754 values the Spark plan uses as literals
    from otel_tail_sampler_spark.operators.similarity import hyperplanes

    plane_rows = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(hyperplanes(64, 32, 42))
    )
    cosd = (
        "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
    )

    minhash8 = ", ".join(
        f"list_min([md5(s || '|{i}') for s in shingles])" for i in range(8)
    )
    sig12 = ", ".join(
        f"list_min([md5(s || '|{i}') for s in shingles]) AS h{i}" for i in range(12)
    )
    band_keys = ", ".join(
        f"md5(h{2 * b} || ',' || h{2 * b + 1}) AS band{b}" for b in range(6)
    )
    agree12 = " + ".join(f"(sn.h{i} = sr.h{i})::INT" for i in range(12))
    lsh_ctes = f"""sh AS (
              SELECT doc_id, {_shingle_sql(3)} AS shingles
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
            ),
            sigs AS (SELECT doc_id, {sig12} FROM sh),
            bands AS (SELECT doc_id, {band_keys} FROM sigs),
            long AS (
              SELECT doc_id, band, key FROM bands
              UNPIVOT (key FOR band IN (band0, band1, band2, band3, band4, band5))
            ),
            lsh_pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
              FROM long a JOIN long b ON a.band = b.band AND a.key = b.key
                                     AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )"""

    o = {
        "parse_spans": f"""
            SELECT doc_id, trace_id, span_id, parent_span_id, timestamp_ms,
                   duration_ms, status_code, span_kind, service_name,
                   operation_name, source
            FROM '{sp}'
        """,
        "trace_assembly": S
        + """
            SELECT trace_id, service_name, span_count, has_error, error_count,
                   max_duration_ms, min_timestamp_ms, max_timestamp_ms,
                   operations_csv, root_span_id
            FROM summaries
        """,
        "trace_assembly_salted": S
        + """
            SELECT trace_id, service_name, span_count, has_error, error_count,
                   max_duration_ms, min_timestamp_ms, max_timestamp_ms,
                   operations_csv, root_span_id
            FROM summaries
        """,
        "force_rules": S
        + f"""
            , span_flags AS (
              SELECT trace_id,
                     max(CASE WHEN duration_ms >= 5000 THEN 1 ELSE 0 END) = 1
                       AS slow_span
              FROM '{sp}' GROUP BY 1
            ),
            forced AS (
              SELECT f.*,
                CASE WHEN f.service_name = 'payment-service' THEN 'force_keep'
                     WHEN f.service_name = 'search-service' AND sf.slow_span
                       THEN 'force_drop' END AS force_action
              FROM final f JOIN span_flags sf USING (trace_id)
            )
            SELECT CASE WHEN force_action = 'force_drop' THEN 'force_drop'
                        WHEN force_action = 'force_keep' THEN 'force_keep'
                        ELSE decision_policy END AS decision_policy,
                   CASE WHEN force_action = 'force_drop' THEN 'drop'
                        WHEN force_action = 'force_keep' THEN 'keep'
                        ELSE decision END AS decision,
                   count(*) AS trace_count
            FROM forced GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "policy_decisions": S
        + """
            SELECT trace_id, decision, decision_policy,
                   p_error, p_latency, p_cardinality
            FROM final
        """,
        "sink_counts": S
        + f"""
            SELECT f.decision_policy, f.decision, count(*) AS row_count
            FROM '{sp}' s JOIN final f USING (trace_id)
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "routed_keep_rows": S
        + f"""
            SELECT s.doc_id, s.trace_id,
                   (16 + length(s.service_name) + length(s.operation_name))::INT AS n_tok
            FROM '{sp}' s JOIN final f USING (trace_id)
            WHERE f.decision = 'keep'
        """,
        "rate_limit_overflow": S
        + f"""
            , ranked AS (
              SELECT *, CASE WHEN decision = 'keep' THEN
                row_number() OVER (PARTITION BY service_name, decision
                  ORDER BY md5(trace_id || '|rate_limit'), trace_id) END AS rl
              FROM final
            )
            SELECT service_name,
                   CASE WHEN decision = 'keep' AND rl > 50 THEN 'overflow'
                        ELSE decision END AS decision,
                   count(*) AS trace_count
            FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "error_short_circuit": S
        + """
            SELECT CASE
                     WHEN has_error THEN 'error_short_circuit'
                     WHEN p_latency THEN 'latency_sampling'
                     WHEN p_cardinality THEN 'cardinality_sampling'
                     ELSE 'no_policy_matched' END AS decision_policy,
                   CASE WHEN has_error OR p_latency OR p_cardinality
                        THEN 'keep' ELSE 'drop' END AS decision,
                   count(*) AS trace_count
            FROM decided GROUP BY 1, 2
        """,
        "configurable_policy": S
        + f"""
            , ops AS (
              SELECT trace_id,
                     max(CASE WHEN operation_name LIKE '%/GetUser'
                         THEN 1 ELSE 0 END) = 1 AS has_getuser
              FROM '{sp}' GROUP BY 1
            )
            SELECT s.trace_id,
                   (((s.has_error AND s.service_name LIKE 'payment%')
                     OR ((s.max_duration_ms >= 3000 AND s.max_duration_ms <= 8000)
                         OR o.has_getuser)
                     OR NOT regexp_matches(s.service_name, '^(api|user)-'))
                    AND {_hfrac_sql('s.trace_id', 'configurable')} < 0.35) AS keep
            FROM summaries s JOIN ops o USING (trace_id)
        """,
        "export_projection": f"""
            SELECT trace_id, span_id, parent_span_id AS parent_id,
                   service_name AS service, operation_name AS name,
                   (timestamp_ms * 1000000)::BIGINT AS start,
                   (duration_ms * 1000000)::BIGINT AS duration,
                   (status_code = 2)::INT AS error,
                   'env=production,span.kind=' || span_kind ||
                   ',status.code=' || status_code AS meta_csv
            FROM '{sp}'
        """,
        "compression_export": """
            SELECT * FROM (VALUES
              ('T9', 'R', 'db-svc', 'db.query.select', 1000::BIGINT,
               60::BIGINT, 1::INT,
               'compression.error_count=1,' ||
               'compression.group_signature=SELECT * FROM T WHERE ID = ?,' ||
               'compression.max_duration_ms=30,' ||
               'compression.mean_duration_ms=20.00,' ||
               'compression.min_duration_ms=10,compression.span_count=3'),
              ('T9', 'R', 'db-svc', 'db.query.insert', 1500::BIGINT,
               22::BIGINT, 0::INT,
               'compression.error_count=0,' ||
               'compression.group_signature=INSERT INTO LOGS VALUES (?),' ||
               'compression.max_duration_ms=7,' ||
               'compression.mean_duration_ms=5.50,' ||
               'compression.min_duration_ms=5,compression.span_count=4')
            ) t(trace_id, parent_span_id, service_name, operation_name,
                timestamp_ms, duration_ms, error, meta_csv)
        """,
        "buffer_stats": f"""
            SELECT status_code, count(*)::BIGINT AS span_count,
                   count(DISTINCT trace_id)::BIGINT AS trace_count,
                   (count(*) * 1024)::BIGINT AS est_bytes
            FROM '{sp}' GROUP BY 1 ORDER BY 1
        """,
        "sql_on_lake": f"""
            SELECT service_name, operation_name, cnt FROM (
              SELECT service_name, operation_name, count(*) AS cnt,
                     row_number() OVER (PARTITION BY service_name
                                        ORDER BY count(*) DESC, operation_name) AS rk
              FROM '{sp}' GROUP BY 1, 2
            ) WHERE rk = 1 ORDER BY service_name
        """,
        "operation_type": """
            WITH fixture AS (
              SELECT * FROM (VALUES
                ('a1', 'db.call', 'findOne', 'mongodb', NULL),
                ('a2', 'pg.q', NULL, 'postgresql', 'SELECT * FROM users WHERE id = 7'),
                ('a3', 'pg.q', NULL, 'postgresql', 'insert into t values (''x'')'),
                ('a4', 'pg.q', NULL, 'postgresql', 'UPDATE t SET a = 1 WHERE b = 2'),
                ('a5', 'pg.q', NULL, 'postgresql', 'DELETE FROM t WHERE a = 3'),
                ('a6', 'custom.op', NULL, NULL, NULL),
                ('a7', 'pg.q', NULL, 'postgresql', 'VACUUM ANALYZE t'),
                ('a8', 'pat.q', NULL, 'postgresql', 'SELECT * FROM USERS u JOIN x'),
                ('a9', 'plain.http', NULL, NULL, NULL)
              ) t(span_id, operation_name, db_operation, db_system, db_statement)
            ),
            normed AS (
              SELECT *, upper(trim(regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(coalesce(db_statement, operation_name),
                  '''[^'']*''', '?', 'g'), '"[^"]*"', '?', 'g'),
                '\\d+', '?', 'g'), '\\s+', ' ', 'g'))) AS norm_statement
              FROM fixture
            )
            SELECT span_id,
                   CASE
                     WHEN db_operation IS NOT NULL THEN 'db.query.' || db_operation
                     WHEN db_statement IS NOT NULL
                          AND contains(norm_statement, 'FROM USERS')
                       THEN 'user-queries'
                     WHEN db_system IS NOT NULL AND norm_statement LIKE 'SELECT%'
                       THEN 'db.query.select'
                     WHEN db_system IS NOT NULL AND norm_statement LIKE 'INSERT%'
                       THEN 'db.query.insert'
                     WHEN db_system IS NOT NULL AND norm_statement LIKE 'UPDATE%'
                       THEN 'db.query.update'
                     WHEN db_system IS NOT NULL AND norm_statement LIKE 'DELETE%'
                       THEN 'db.query.delete'
                     ELSE operation_name
                   END AS op_type,
                   norm_statement
            FROM normed
        """,
        "resource_attrs": """
            SELECT * FROM (VALUES
              ('a1', 'service.name=svc-a'),
              ('a2', 'service.name=svc-a'),
              ('a3', 'service.name=svc-a'),
              ('a4', 'service.name=svc-a'),
              ('a5', 'service.name=svc-a'),
              ('a6', 'service.name=svc-a,service.version=1.2,tenant=acme'),
              ('a7', 'service.name=svc-a'),
              ('a8', 'service.name=svc-a'),
              ('a9', 'customer_id=c9,host.name=h1,k8s.pod=p1,service.name=svc-a')
            ) t(span_id, resource_csv)
        """,
        "combine_all_match": S
        + _d5_oracle_select("all_match"),
        "combine_consensus": S
        + _d5_oracle_select("consensus"),
        "combine_priority": S
        + _d5_oracle_select("priority"),
        "slowest_traces": S
        + """
            SELECT trace_id, service_name, max_duration_ms, span_count
            FROM summaries
            ORDER BY max_duration_ms DESC, trace_id ASC LIMIT 20
        """,
        "error_traces_recent": S
        + """
            SELECT trace_id, service_name, max_timestamp_ms, error_count
            FROM summaries WHERE has_error
            ORDER BY max_timestamp_ms DESC, trace_id ASC LIMIT 20
        """,
        "span_service_stats": f"""
            SELECT service_name, count(*) AS span_count,
                   count(DISTINCT trace_id) AS trace_count,
                   round(avg(duration_ms), 4) AS avg_duration_ms,
                   max(duration_ms) AS max_duration_ms,
                   sum(CASE WHEN status_code = 2 THEN 1 ELSE 0 END)::BIGINT AS error_count
            FROM '{sp}' GROUP BY 1 ORDER BY span_count DESC, service_name ASC
        """,
        "service_percentiles": f"""
            SELECT service_name, count(*) AS span_count,
                   round(quantile_cont(duration_ms, 0.5), 4) AS p50,
                   round(quantile_cont(duration_ms, 0.95), 4) AS p95,
                   round(quantile_cont(duration_ms, 0.99), 4) AS p99
            FROM '{sp}' GROUP BY 1 ORDER BY 1
        """,
        "span_compression": f"""
            WITH keyed AS (
              SELECT *, operation_name AS op_type,
                     upper(trim(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(operation_name, '''[^'']*''', '?', 'g'),
                       '"[^"]*"', '?', 'g'), '\\d+', '?', 'g'), '\\s+', ' ', 'g')))
                       AS norm_statement
              FROM '{sp}' WHERE duration_ms <= 60000
            )
            SELECT service_name, op_type, norm_statement,
                   count(*) AS span_count,
                   sum(CASE WHEN status_code = 2 THEN 1 ELSE 0 END)::BIGINT AS error_count,
                   sum(duration_ms)::BIGINT AS total_duration_ms,
                   round(avg(duration_ms), 4) AS mean_duration_ms,
                   min(duration_ms) AS min_duration_ms,
                   max(duration_ms) AS max_duration_ms,
                   min(timestamp_ms) AS first_timestamp_ms,
                   max(timestamp_ms) AS last_timestamp_ms
            FROM keyed
            GROUP BY 1, 2, 3
            HAVING count(*) >= 3
               AND max(timestamp_ms) - min(timestamp_ms) <= 100000000
        """,
        "enrich_broadcast": S
        + """
            , dim AS (
              SELECT s, CASE WHEN i < 3 THEN 'tier-1' WHEN i < 6 THEN 'tier-2'
                             ELSE 'tier-3' END AS service_tier
              FROM (SELECT unnest(['api-gateway','user-service','order-service',
                      'payment-service','inventory-service','notification-service',
                      'analytics-service','search-service']) AS s,
                    unnest(range(8)) AS i)
            )
            SELECT d.service_tier, count(*) AS trace_count,
                   sum(t.span_count)::BIGINT AS span_count,
                   sum(CASE WHEN t.has_error THEN 1 ELSE 0 END)::BIGINT AS error_traces
            FROM summaries t JOIN dim d ON t.service_name = d.s
            GROUP BY 1 ORDER BY 1
        """,
        "exported_dedup_anti": S
        + """
            SELECT decision, count(*) AS trace_count
            FROM final
            WHERE ('0x' || substring(trace_id, 1, 4))::BIGINT % 2 = 1
            GROUP BY 1
        """,
        "exported_dedup_ttl": S
        + """
            SELECT decision, count(*) AS trace_count
            FROM final
            WHERE ('0x' || substring(trace_id, 1, 4))::BIGINT % 2 = 1
               OR min_timestamp_ms <
                  (SELECT max(max_timestamp_ms) FROM summaries) - 1800000
            GROUP BY 1
        """,
        "trace_readiness": S
        + f"""
            SELECT trace_id,
                   max_timestamp_ms + 30000 <=
                     (SELECT max(timestamp_ms) FROM '{sp}') AS ready
            FROM summaries
        """,
        "events_session_agg": """
            SELECT user_id, count(*) AS event_count,
                   epoch_ms(min(ts)) AS min_ts_ms,
                   epoch_ms(max(ts)) AS max_ts_ms,
                   round(max(value), 6) AS max_value,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error_count,
                   array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types_csv
            FROM events GROUP BY 1
        """,
        "events_latency_policy": """
            SELECT user_id, round(max(value), 6) AS max_value
            FROM events GROUP BY 1 HAVING max(value) > 90.0
        """,
        "events_hash_sampling": f"""
            SELECT event_id, user_id, event_type FROM events
            WHERE {_hfrac_sql("event_id::VARCHAR", "sample")} < 0.1
        """,
        "events_compression_agg": """
            SELECT user_id, event_type, count(*) AS cnt,
                   round(sum(value), 6) AS total_value,
                   round(avg(value), 6) AS mean_value,
                   round(min(value), 6) AS min_value,
                   round(max(value), 6) AS max_value
            FROM events GROUP BY 1, 2 HAVING count(*) >= 3
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms FROM events
            ),
            marked AS (
              SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                              OR ts_ms - lag(ts_ms) OVER w > 1800000
                         THEN 1 ELSE 0 END AS newf
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
            ),
            sess AS (
              SELECT *, (sum(newf) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                         ROWS UNBOUNDED PRECEDING))::BIGINT AS session_idx
              FROM marked
            )
            SELECT user_id, session_idx, count(*) AS n_events,
                   min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
                   round(sum(value), 6) AS total_value
            FROM sess GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "compression_remainder": f"""
            WITH keyed AS (
              SELECT *, operation_name AS op_type, upper(trim(regexp_replace(regexp_replace(regexp_replace( regexp_replace(operation_name, '''[^'']*''', '?', 'g'), '"[^"]*"', '?', 'g'), '\\d+', '?', 'g'), '\\s+', ' ', 'g'))) AS norm_statement
              FROM '{sp}'
            ),
            surviving AS (
              SELECT service_name, op_type, norm_statement
              FROM keyed WHERE duration_ms <= 60000
              GROUP BY 1, 2, 3
              HAVING count(*) >= 900
                 AND max(timestamp_ms) - min(timestamp_ms) <= 100000000
            )
            SELECT k.service_name, k.operation_name, count(*) AS cnt
            FROM keyed k
            WHERE k.duration_ms > 60000  -- long spans always pass through
               OR NOT EXISTS (
              SELECT 1 FROM surviving s
              WHERE s.service_name = k.service_name AND s.op_type = k.op_type
                AND s.norm_statement = k.norm_statement
            )
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "events_attr_matchers": """
            SELECT event_id, user_id,
                   json_extract_string(props, '$.k')::BIGINT AS k_value
            FROM events
            WHERE json_extract_string(props, '$.k')::DOUBLE >= 50
              AND event_type = 'click'
        """,
        "events_topk": """
            SELECT event_id, user_id, round(value, 6) AS value
            FROM events ORDER BY value DESC, event_id ASC LIMIT 25
        """,
        "orders_enrich_join": """
            SELECT c_nationkey, count(*) AS order_count,
                   round(sum(o_totalprice), 4) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY 1
        """,
        "lineitem_semi_join": """
            SELECT l_returnflag, count(*) AS cnt,
                   round(sum(l_extendedprice), 4) AS revenue
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000)
            GROUP BY 1 ORDER BY 1
        """,
        "lineitem_anti_join": """
            SELECT l_linestatus, count(*) AS cnt
            FROM lineitem
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
            GROUP BY 1 ORDER BY 1
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "dedup_exact": """
            WITH both_sets AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
            )
            SELECT md5(text) AS digest, count(*) AS dup_count,
                   min(doc_id) AS keeper_id
            FROM both_sets GROUP BY 1 HAVING count(*) > 1
        """,
        "minhash_signatures": f"""
            WITH sh AS (
              SELECT doc_id, {_shingle_sql(3)} AS shingles
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
            )
            SELECT doc_id,
                   array_to_string([{minhash8}], ',') AS minhash_csv
            FROM sh
        """,
        "minhash_lsh_pairs": f"""
            WITH {lsh_ctes}
            SELECT id_a, id_b, n_bands_shared FROM lsh_pairs
        """,
        "dedup_components": f"""
            WITH RECURSIVE {lsh_ctes},
            edges AS (
              SELECT id_a AS a, id_b AS b FROM lsh_pairs
              UNION SELECT id_b, id_a FROM lsh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS doc_id, least(min(b), a) AS component_id
              FROM reach GROUP BY a
            )
            SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
        """,
        "simhash": f"""
            WITH ex AS (
              SELECT doc_id,
                     ('0x' || substring(md5(unnest(string_split_regex(trim(text), '\\s+'))), 1, 4))::BIGINT AS h
              FROM documents
            ),
            bits AS (SELECT doc_id, {', '.join(simhash_bits)} FROM ex GROUP BY 1)
            SELECT doc_id, ({simhash_fp})::BIGINT AS simhash FROM bits
        """,
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, unnest(list_distinct({_shingle_sql(3)})) AS s
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(i / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / (sa.sz + sb.sz - i) >= 0.35
        """,
        "contamination": f"""
            WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
            ev AS (
              SELECT doc_id AS eval_id, unnest(list_distinct({_shingle_sql(8)})) AS s
              FROM d WHERE doc_id % 10 = 0
            ),
            tr0 AS (
              SELECT doc_id AS train_id, unnest(list_distinct({_shingle_sql(8)})) AS s
              FROM d WHERE doc_id % 10 <> 0
            ),
            keep AS (SELECT s FROM tr0 GROUP BY s HAVING count(*) <= 2),
            capped AS (SELECT count(*)::BIGINT AS n_capped_grams
                       FROM (SELECT s FROM tr0 GROUP BY s HAVING count(*) > 2)),
            tr AS (SELECT train_id, s FROM tr0 SEMI JOIN keep USING (s)),
            sizes AS (SELECT eval_id, count(*) AS sz FROM ev GROUP BY 1),
            inter AS (
              SELECT eval_id, train_id, count(*) AS i
              FROM ev JOIN tr USING (s) GROUP BY 1, 2
            ),
            best AS (
              SELECT eval_id, train_id, i,
                     row_number() OVER (PARTITION BY eval_id
                                        ORDER BY i DESC, train_id ASC) AS rn
              FROM inter
            )
            SELECT e.doc_id AS eval_id,
                   b.train_id AS best_train_id,
                   round(coalesce(b.i / greatest(s.sz, 1), 0.0), 6) AS containment,
                   round(coalesce(b.i / greatest(s.sz, 1), 0.0), 6) >= 0.2 AS contaminated,
                   (SELECT n_capped_grams FROM capped) AS n_capped_grams
            FROM documents e
            LEFT JOIN sizes s ON s.eval_id = e.doc_id
            LEFT JOIN best b ON b.eval_id = e.doc_id AND b.rn = 1
            WHERE e.doc_id % 10 = 0
        """,
        "source_overlap": f"""
            WITH {lsh_ctes}
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b,
                   count(*)::BIGINT AS pair_count
            FROM lsh_pairs p
            JOIN documents da ON da.doc_id = p.id_a
            JOIN documents db ON db.doc_id = p.id_b
            GROUP BY 1, 2
        """,
        "dedup_lines": """
            WITH d AS (
              SELECT doc_id,
                     concat_ws(chr(10),
                       'all rights reserved licensed under the apache license',
                       text,
                       CASE WHEN doc_id % 5 = 0
                            THEN 'subscribe to our newsletter for updates' END
                     ) AS text
              FROM documents
            ),
            lines AS (
              SELECT doc_id,
                     unnest(string_split(text, chr(10))) AS line,
                     unnest(range(0, len(string_split(text, chr(10))))) AS pos
              FROM d
            ),
            r AS (
              SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY md5(line)
                                        ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY md5(line)) AS n
              FROM lines
            ),
            surv AS (SELECT doc_id, pos, line FROM r
                     WHERE NOT (n >= 2 AND rn > 1)),
            reb AS (
              SELECT doc_id,
                     coalesce(string_agg(line, chr(10) ORDER BY pos), '') AS text,
                     count(*) AS n_kept
              FROM surv GROUP BY doc_id
            ),
            tot AS (SELECT doc_id, count(*) AS n0 FROM lines GROUP BY doc_id)
            SELECT d.doc_id,
                   md5(coalesce(reb.text, '')) AS text_md5,
                   (tot.n0 - coalesce(reb.n_kept, 0))::INT AS n_lines_removed
            FROM d
            JOIN tot USING (doc_id)
            LEFT JOIN reb USING (doc_id)
        """,
        "decontaminate_corpus": f"""
            WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
            ev AS (
              SELECT doc_id AS eval_id, unnest(list_distinct({_shingle_sql(8)})) AS s
              FROM d WHERE doc_id % 10 = 0
            ),
            tr0 AS (
              SELECT doc_id AS train_id, unnest(list_distinct({_shingle_sql(8)})) AS s
              FROM d WHERE doc_id % 10 <> 0
            ),
            keep AS (SELECT s FROM tr0 GROUP BY s HAVING count(*) <= 2),
            tr AS (SELECT train_id, s FROM tr0 SEMI JOIN keep USING (s)),
            sizes AS (SELECT eval_id, count(*) AS sz FROM ev GROUP BY 1),
            inter AS (
              SELECT eval_id, train_id, count(*) AS i
              FROM ev JOIN tr USING (s) GROUP BY 1, 2
            ),
            flagged AS (
              SELECT DISTINCT train_id
              FROM inter JOIN sizes USING (eval_id)
              WHERE i / greatest(sz, 1) >= 0.2
            )
            SELECT doc_id, source, md5(text) AS text_md5
            FROM documents
            WHERE doc_id % 10 <> 0
              AND doc_id NOT IN (SELECT train_id FROM flagged)
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 4),
            scored AS (
              SELECT q.query_id, e.vec_id AS corpus_id,
                     list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS cos
              FROM embeddings e CROSS JOIN q
            ),
            ranked AS (
              SELECT query_id, corpus_id, cos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, corpus_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, corpus_id, round(cos, 6) AS cosine, rank::INT AS rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_neardup": f"""
            WITH p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cosd} AS cos
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4
        """,
        "winnow_fingerprints": r"""
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 4
                          THEN [md5(array_to_string(w[i:i+3], ' ')) for i in range(1, len(w) - 2)]
                          ELSE [md5(array_to_string(w, ' '))] END AS h
              FROM d),
            wins AS (
              SELECT doc_id,
                     [list_min(h[j:j+4]) for j in range(1, greatest(len(h) - 4, 1) + 1)] AS fps
              FROM g)
            SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins
        """,
        "hash_tokenize": """
            -- NULL-text contract matches the Spark side: NULL text maps to
            -- the empty token array / n_tok 0 (a bare trim(...) = '' test
            -- evaluates NULL and falls into the tokenizing branch, where
            -- string_split(NULL) yields NULL tokens and NULL n_tok)
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL
                            OR trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN []::INTEGER[]
                          ELSE [(('0x' || substring(md5(x), 1, 8))::BIGINT % 4096)::INT
                                for x in string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')] END AS tokens,
                     (CASE WHEN text IS NULL
                            OR trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN 0
                          ELSE len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) END)::INT AS n_tok
              FROM documents
            )
            SELECT doc_id,
                   md5(coalesce(array_to_string(tokens, ','), '')) AS tokens_md5,
                   n_tok
            FROM t
        """,
        "dup_token_spans": """
            WITH tok AS (
              SELECT doc_id,
                     [(('0x' || substring(md5(x), 1, 8))::BIGINT % 4096)::INT
                      for x in string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')] AS tokens
              FROM documents WHERE trim(regexp_replace(text, '\\s+', ' ', 'g')) <> ''
            ),
            ex AS (
              SELECT doc_id, unnest(range(0, greatest(len(tokens) - 15, 0), 8)) AS s,
                     tokens
              FROM tok WHERE len(tokens) >= 16
            ),
            h AS (
              SELECT doc_id, s::INT AS win_start,
                     md5(array_to_string(tokens[s+1:s+16], ',')) AS h
              FROM ex
            ),
            c AS (SELECT h, count(*) AS dup_count FROM h GROUP BY 1 HAVING count(*) >= 2)
            SELECT doc_id, win_start, dup_count FROM h JOIN c USING (h)
        """,
        "corpus_to_shards": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN []::INTEGER[]
                          ELSE [(('0x' || substring(md5(x), 1, 8))::BIGINT % 4096)::INT
                                for x in string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')] END AS tokens
              FROM documents
            ),
            o AS (
              SELECT tokens, len(tokens) AS n,
                     coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
              FROM tok
            ),
            pieces AS (
              SELECT off, n, tokens,
                     unnest(range(0, CASE WHEN n = 0 THEN 0
                       ELSE (off + n - 1) // 256 - off // 256 + 1 END)) AS k
              FROM o
            ),
            cut AS (
              SELECT off // 256 + k AS example_id,
                     greatest(off, (off // 256 + k) * 256) AS gs,
                     tokens[greatest(off, (off // 256 + k) * 256) - off + 1
                            : least(off + n, (off // 256 + k + 1) * 256) - off] AS sl
              FROM pieces
            ),
            ex AS (
              SELECT example_id, flatten(list(sl ORDER BY gs)) AS tokens
              FROM cut GROUP BY example_id
            ),
            sh AS (
              SELECT example_id, tokens, len(tokens)::INT AS n_tok,
                     md5(example_id::VARCHAR || '|' || 'shards') AS hx
              FROM ex
            ),
            s2 AS (
              SELECT *, (('0x' || substring(hx, 1, 15))::BIGINT % 8)::INT AS shard
              FROM sh
            )
            SELECT example_id,
                   md5(coalesce(array_to_string(tokens, ','), '')) AS tokens_md5,
                   n_tok, shard,
                   (row_number() OVER (PARTITION BY shard
                                       ORDER BY hx, example_id) - 1)::INT AS shard_pos
            FROM s2
        """,
        "trim_dup_spans": """
            WITH tok AS (
              SELECT doc_id,
                     CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN []::INTEGER[]
                          ELSE [(('0x' || substring(md5(x), 1, 8))::BIGINT % 4096)::INT
                                for x in string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')] END AS tokens
              FROM documents
            ),
            ex AS (
              SELECT doc_id, unnest(range(0, greatest(len(tokens) - 15, 0), 8)) AS s,
                     tokens
              FROM tok WHERE len(tokens) >= 16
            ),
            h AS (
              SELECT doc_id, s, md5(array_to_string(tokens[s+1:s+16], ',')) AS h
              FROM ex
            ),
            occ AS (
              SELECT doc_id, s,
                     row_number() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn,
                     count(*) OVER (PARTITION BY h) AS cnt
              FROM h
            ),
            mask AS (SELECT doc_id, s FROM occ WHERE cnt >= 2 AND rn > 1),
            pos AS (
              SELECT doc_id, unnest(range(0, len(tokens))) AS p FROM tok
            ),
            kept AS (
              SELECT p.doc_id, p.p
              FROM pos p ANTI JOIN mask m
                ON m.doc_id = p.doc_id AND p.p >= m.s AND p.p < m.s + 16
            ),
            rebuilt AS (
              SELECT k.doc_id, list(tok.tokens[k.p + 1] ORDER BY k.p) AS toks,
                     count(*) AS nk
              FROM kept k JOIN tok USING (doc_id) GROUP BY k.doc_id
            )
            SELECT t.doc_id,
                   md5(coalesce(array_to_string(rb.toks, ','), '')) AS tokens_md5,
                   (len(t.tokens) - coalesce(rb.nk, 0))::INT AS n_removed
            FROM tok t LEFT JOIN rebuilt rb USING (doc_id)
        """,
        "doc_rarity": f"""
            WITH tok AS (
              SELECT doc_id, tokens FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            ex AS (SELECT doc_id, unnest(tokens) AS t FROM tok),
            freq AS (SELECT t, count(*) AS c FROM ex GROUP BY 1),
            per AS (
              SELECT ex.doc_id, count(*) AS n, sum(freq.c)::BIGINT AS sumc,
                     sum(CASE WHEN freq.c < 2 THEN 1 ELSE 0 END)::BIGINT AS nrare,
                     min(freq.c)::BIGINT AS minc
              FROM ex JOIN freq USING (t) GROUP BY 1
            )
            SELECT t.doc_id, coalesce(per.n, 0)::INT AS n_tok,
                   round(coalesce(per.sumc::DOUBLE / per.n, 0.0), 6) AS mean_freq,
                   round(coalesce(per.nrare::DOUBLE / per.n, 0.0), 6) AS rare_frac,
                   coalesce(per.minc, 0) AS min_freq
            FROM tok t LEFT JOIN per USING (doc_id)
        """,
        "winnow_pairs": r"""
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 4
                          THEN [md5(array_to_string(w[i:i+3], ' ')) for i in range(1, len(w) - 2)]
                          ELSE [md5(array_to_string(w, ' '))] END AS h
              FROM d),
            wins AS (
              SELECT doc_id,
                     [list_min(h[j:j+4]) for j in range(1, greatest(len(h) - 4, 1) + 1)] AS fps
              FROM g),
            fpt AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins),
            keep AS (SELECT fp FROM fpt GROUP BY fp HAVING count(*) <= 16),
            fk AS (SELECT doc_id, fp FROM fpt SEMI JOIN keep USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "winnow_report": r"""
            WITH d AS (
              SELECT doc_id,
                     string_split(trim(lower(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 4
                          THEN [md5(array_to_string(w[i:i+3], ' ')) for i in range(1, len(w) - 2)]
                          ELSE [md5(array_to_string(w, ' '))] END AS h
              FROM d),
            wins AS (
              SELECT doc_id,
                     [list_min(h[j:j+4]) for j in range(1, greatest(len(h) - 4, 1) + 1)] AS fps
              FROM g),
            fpt AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins),
            keep AS (SELECT fp FROM fpt GROUP BY fp HAVING count(*) <= 16),
            fk AS (SELECT doc_id, fp FROM fpt SEMI JOIN keep USING (fp)),
            sz AS (SELECT doc_id, count(*) AS s FROM fk GROUP BY 1),
            pr AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
              FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT id_a, id_b, n_shared,
                   round(n_shared / sa.s, 6) AS frac_a,
                   round(n_shared / sb.s, 6) AS frac_b
            FROM pr JOIN sz sa ON sa.doc_id = id_a
                    JOIN sz sb ON sb.doc_id = id_b
        """,
        "split_corpus": f"""
            SELECT doc_id, source,
                   CASE WHEN {_hfrac_sql("doc_id::VARCHAR", "split")} < 0.8 THEN 'train'
                        WHEN {_hfrac_sql("doc_id::VARCHAR", "split")} < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "pack_with_boundaries": f"""
            WITH t0 AS (
              SELECT doc_id, [-101] || tokens || [-100] AS tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            o AS (
              SELECT tokens, len(tokens) AS n,
                     coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
              FROM t0
            ),
            pieces AS (
              SELECT off, n, tokens,
                     unnest(range(0, CASE WHEN n = 0 THEN 0
                       ELSE (off + n - 1) // 256 - off // 256 + 1 END)) AS k
              FROM o
            ),
            cut AS (
              SELECT off // 256 + k AS example_id,
                     greatest(off, (off // 256 + k) * 256) AS gs,
                     tokens[greatest(off, (off // 256 + k) * 256) - off + 1
                            : least(off + n, (off // 256 + k + 1) * 256) - off] AS sl
              FROM pieces
            ),
            ex AS (
              SELECT example_id, flatten(list(sl ORDER BY gs)) AS tokens
              FROM cut GROUP BY example_id
            )
            SELECT example_id,
                   md5(coalesce(array_to_string(tokens, ','), '')) AS tokens_md5,
                   len(tokens)::INT AS n_tok FROM ex
        """,
        "pack_sequences": f"""
            WITH o AS (
              SELECT tokens, len(tokens) AS n,
                     coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            pieces AS (
              SELECT off, n, tokens,
                     unnest(range(0, CASE WHEN n = 0 THEN 0
                       ELSE (off + n - 1) // 256 - off // 256 + 1 END)) AS k
              FROM o
            ),
            cut AS (
              SELECT off // 256 + k AS example_id,
                     greatest(off, (off // 256 + k) * 256) AS gs,
                     tokens[greatest(off, (off // 256 + k) * 256) - off + 1
                            : least(off + n, (off // 256 + k + 1) * 256) - off] AS sl
              FROM pieces
            ),
            ex AS (
              SELECT example_id, flatten(list(sl ORDER BY gs)) AS tokens
              FROM cut GROUP BY example_id
            )
            SELECT example_id,
                   md5(coalesce(array_to_string(tokens, ','), '')) AS tokens_md5,
                   len(tokens)::INT AS n_tok FROM ex
        """,
        "prepare_corpus": f"""
            WITH winners AS (
              SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
            ),
            base AS (
              SELECT d.doc_id, d.source, d.text
              FROM documents d JOIN winners USING (doc_id)
            ),
            w AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM base
            ),
            per_w AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
            wa AS (
              SELECT doc_id, sum(c)::BIGINT AS n_words, count(*)::BIGINT AS nd
              FROM per_w GROUP BY 1
            ),
            g AS (
              SELECT b.doc_id, b.source, wa.n_words,
                     round((wa.n_words - wa.nd) / greatest(wa.n_words, 1), 6)
                       AS dup_word_frac
              FROM base b JOIN wa USING (doc_id)
              WHERE wa.n_words >= 20 AND wa.n_words <= 5000
            )
            SELECT doc_id, source, n_words, dup_word_frac
            FROM g
            WHERE dup_word_frac <= 0.6
              AND {_hfrac_sql("doc_id::VARCHAR", "mixture")} < CASE
            """
        + "\n".join(
            f"WHEN source = 'src{i}' THEN {((i % 4) + 1) * 0.25}" for i in range(20)
        )
        + " ELSE 0.0 END",
        "remap_rare_tokens": f"""
            WITH tok AS (
              SELECT doc_id, tokens FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            freq AS (
              SELECT t, count(*) AS c
              FROM (SELECT unnest(tokens) AS t FROM tok) GROUP BY 1
            ),
            rare AS (SELECT t FROM freq WHERE c < 2),
            ex AS (
              -- parallel unnest runs in lockstep; scalar range() is a list
              SELECT doc_id, unnest(tokens) AS t,
                     unnest(range(1, len(tokens) + 1)) AS pos
              FROM tok
            ),
            m AS (
              SELECT ex.doc_id, ex.pos,
                     CASE WHEN rare.t IS NOT NULL THEN -1 ELSE ex.t END AS v,
                     (rare.t IS NOT NULL)::INT AS u
              FROM ex LEFT JOIN rare ON ex.t = rare.t
            ),
            rb AS (
              SELECT doc_id, list(v ORDER BY pos) AS toks, sum(u)::INT AS n_unk
              FROM m GROUP BY 1
            )
            SELECT t.doc_id,
                   md5(coalesce(array_to_string(rb.toks, ','), '')) AS tokens_md5,
                   coalesce(rb.n_unk, 0)::INT AS n_unk
            FROM tok t LEFT JOIN rb USING (doc_id)
        """,
        "assign_shards": f"""
            WITH n AS (
              SELECT ceil(sum(len(tokens)) / 256.0)::BIGINT AS n
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            ids AS (
              SELECT unnest(range(0, (SELECT n FROM n)))::BIGINT AS example_id
            ),
            h AS (
              SELECT example_id,
                     md5(example_id::VARCHAR || '|' || 'shards') AS hx
              FROM ids
            ),
            s AS (
              SELECT example_id, hx,
                     (('0x' || substring(hx, 1, 15))::BIGINT % 8)::INT AS shard
              FROM h
            )
            SELECT example_id, shard,
                   (row_number() OVER (PARTITION BY shard
                                       ORDER BY hx, example_id) - 1)::INT AS shard_pos
            FROM s
        """,
        "vocab_histogram": f"""
            SELECT t AS token, count(*) AS freq
            FROM (SELECT unnest(tokens) AS t
                  FROM parquet_scan('{paths["tokenized"]}/*.parquet'))
            GROUP BY 1
        """,
        "build_vocab": f"""
            WITH f AS (
              SELECT t AS token, count(*)::BIGINT AS freq
              FROM (SELECT unnest(tokens) AS t
                    FROM parquet_scan('{paths["tokenized"]}/*.parquet'))
              GROUP BY 1
            ),
            r AS (
              SELECT token, freq,
                     (row_number() OVER (ORDER BY freq DESC, token ASC) - 1)::INT
                       AS rank_id
              FROM f
            )
            SELECT token, freq, rank_id FROM r WHERE rank_id < 1000
        """,
        "encode_with_vocab": f"""
            WITH tok AS (
              SELECT doc_id, tokens FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            f AS (
              SELECT t AS token, count(*) AS freq
              FROM (SELECT unnest(tokens) AS t FROM tok) GROUP BY 1
            ),
            r AS (
              SELECT token,
                     (row_number() OVER (ORDER BY freq DESC, token ASC) - 1)
                       AS rank_id
              FROM f
            ),
            v AS (SELECT token, rank_id FROM r WHERE rank_id < 1000),
            ex AS (
              SELECT doc_id, unnest(tokens) AS t,
                     unnest(range(1, len(tokens) + 1)) AS pos
              FROM tok
            ),
            m AS (
              SELECT ex.doc_id, ex.pos,
                     coalesce(v.rank_id, -1)::INT AS val,
                     (v.token IS NULL)::INT AS u
              FROM ex LEFT JOIN v ON ex.t = v.token
            ),
            rb AS (
              SELECT doc_id, list(val ORDER BY pos) AS toks,
                     sum(u)::INT AS n_unk
              FROM m GROUP BY 1
            )
            SELECT t.doc_id,
                   md5(coalesce(array_to_string(rb.toks, ','), '')) AS tokens_md5,
                   coalesce(rb.n_unk, 0)::INT AS n_unk
            FROM tok t LEFT JOIN rb USING (doc_id)
        """,
        "mixture_upsample": f"""
            WITH w AS (
              SELECT doc_id, source,
                     CASE
            """
        + "\n".join(
            f"WHEN source = 'src{i}' THEN {(i % 12) * 0.25}" for i in range(20)
        )
        + f"""
                     ELSE 0.0 END AS wt
              FROM documents
            ),
            c AS (
              SELECT doc_id, source,
                     (floor(wt) + CASE WHEN
                        {_hfrac_sql("doc_id::VARCHAR", "mixture")} < wt - floor(wt)
                      THEN 1 ELSE 0 END)::INT AS n
              FROM w
            )
            SELECT doc_id, source, unnest(range(0, n))::INT AS copy
            FROM c WHERE n > 0
        """,
        "mixture_sample": "SELECT doc_id, lang, source FROM documents WHERE "
        + _hfrac_sql("doc_id::VARCHAR", "mixture")
        + """ < CASE
        """
        + "\n".join(
            f"WHEN source = 'src{i}' THEN {((i % 4) + 1) * 0.25}" for i in range(20)
        )
        + " ELSE 0.0 END",
        "winnow_poly": f"""
            WITH d AS (
              SELECT doc_id,
                     trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              FROM documents),
            cp AS (
              SELECT doc_id, [unicode(t[i:i]) for i in range(1, len(t) + 1)] AS c
              FROM d),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(c) >= 16
                          THEN [list_dot_product(c[i:i+15]::DOUBLE[], {pwl})::BIGINT % 1048573
                                for i in range(1, len(c) - 14)]
                          ELSE [list_dot_product(c::DOUBLE[], ({pwl})[16-len(c)+1:16])::BIGINT % 1048573]
                     END AS h
              FROM cp),
            wins AS (
              SELECT doc_id,
                     [list_min(h[j:j+7]) for j in range(1, greatest(len(h) - 7, 1) + 1)] AS fps
              FROM g)
            SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins
        """,
        "embedding_neardup_lsh": f"""
            WITH planes(pid, pv) AS (VALUES {plane_rows}),
            bk AS (
              SELECT e.vec_id AS id, p.pid // 8 AS band,
                     string_agg(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
                                     THEN '1' ELSE '0' END, '' ORDER BY p.pid) AS key
              FROM embeddings e CROSS JOIN planes p
              GROUP BY e.vec_id, p.pid // 8
            ),
            cand AS (
              SELECT DISTINCT l.id AS id_a, r.id AS id_b
              FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key AND l.id < r.id
            ),
            scored AS (
              SELECT id_a, id_b, {cosd} AS cos
              FROM cand
              JOIN embeddings a ON a.vec_id = id_a
              JOIN embeddings b ON b.vec_id = id_b)
            SELECT id_a, id_b, round(cos, 6) AS cosine FROM scored WHERE cos >= 0.4
        """,
        "redact_pii": redact_sql,
        "repetition_signals": """
            WITH w AS (
              SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
            ),
            per_w AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
            wa AS (
              SELECT doc_id, sum(c)::BIGINT AS n_words,
                     count(*)::BIGINT AS nd, max(c)::BIGINT AS tw
              FROM per_w GROUP BY 1
            ),
            b AS (
              SELECT doc_id,
                     unnest([wl[i] || ' ' || wl[i+1] for i in range(1, len(wl))]) AS bg
              FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wl FROM documents)
              WHERE len(wl) >= 2
            ),
            per_b AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
            ba AS (
              SELECT doc_id, sum(c)::BIGINT AS nb, max(c)::BIGINT AS tb
              FROM per_b GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(wa.n_words, 0)::BIGINT AS n_words,
                   round(coalesce((wa.n_words - wa.nd) / greatest(wa.n_words, 1), 0.0), 6)
                     AS dup_word_frac,
                   round(coalesce(wa.tw / greatest(wa.n_words, 1), 0.0), 6)
                     AS top_word_frac,
                   round(coalesce(ba.tb / greatest(ba.nb, 1), 0.0), 6)
                     AS top_bigram_frac
            FROM documents d
            LEFT JOIN wa USING (doc_id)
            LEFT JOIN ba USING (doc_id)
        """,
        "text_stats": f"""
            SELECT doc_id,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END)::INT AS n_words,
                   (WITH w AS (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws)
                    SELECT CASE
                      WHEN greatest(r_en, r_de, r_fr, r_es) = 0 THEN 'und'
                      WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
                      WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
                      WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
                      ELSE 'es' END
                    FROM (SELECT
                      len(list_filter(ws, x -> x IN ({stop['en']}))) / greatest(len(ws), 1)::DOUBLE AS r_en,
                      len(list_filter(ws, x -> x IN ({stop['de']}))) / greatest(len(ws), 1)::DOUBLE AS r_de,
                      len(list_filter(ws, x -> x IN ({stop['fr']}))) / greatest(len(ws), 1)::DOUBLE AS r_fr,
                      len(list_filter(ws, x -> x IN ({stop['es']}))) / greatest(len(ws), 1)::DOUBLE AS r_es
                      FROM w)
                   ) AS lang_guess,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5
            FROM documents
        """,
        "multimodal_features": f"""
            SELECT media_id, kind, width, height, n_frames, sample_rate,
                   n_samples, px_sum, px_min, px_max
            FROM '{media_truth}'
        """,
        # phash oracles read the PRE-ENCODE scalar-reference hashes and
        # re-derive the banded pair index in DuckDB bit-op SQL (the
        # arithmetic >> sign-extension is masked off, as on the Spark
        # side) — decode/resize/bit-pack and the banding are both
        # independently formulated.
        "phash_pairs": f"""
            WITH hv AS (SELECT DISTINCT phash_d FROM '{phash_truth}'),
            bands AS (
              SELECT phash_d, b,
                     (phash_d >> (b * 16)) & 65535 AS key
              FROM hv, (SELECT unnest([0, 1, 2, 3]) AS b)
            ),
            cand AS (
              SELECT DISTINCT x.phash_d AS hash_a, y.phash_d AS hash_b
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.key = y.key
               AND x.phash_d < y.phash_d
            )
            SELECT hash_a, hash_b,
                   bit_count(xor(hash_a, hash_b))::INT AS hamming
            FROM cand
            WHERE bit_count(xor(hash_a, hash_b)) <= 3
        """,
        "phash_groups": f"""
            SELECT phash_d, count(*)::BIGINT AS n_media,
                   min(media_id) AS rep_id
            FROM '{phash_truth}'
            GROUP BY phash_d
        """,
        "audio_fingerprint": f"""
            SELECT media_id, afp FROM '{afp_truth}'
        """,
        "corpus_dedup_exact": """
            WITH even AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
            newd AS (
              SELECT o.doc_id,
                     CASE WHEN o.doc_id % 10 = 1 AND p.text IS NOT NULL
                          THEN p.text ELSE o.text END AS text
              FROM documents o LEFT JOIN even p ON p.doc_id = o.doc_id - 1
              WHERE o.doc_id % 2 = 1
            ),
            rd AS (
              SELECT md5(text) AS dg, min(doc_id) AS id_ref,
                     count(*)::BIGINT AS n_ref_copies
              FROM even GROUP BY 1
            )
            SELECT n.doc_id AS id_new, rd.id_ref, rd.n_ref_copies
            FROM (SELECT doc_id, md5(text) AS dg FROM newd) n
            JOIN rd USING (dg)
        """,
        "media_neardup_components": f"""
            WITH RECURSIVE h AS (
              SELECT media_id, phash_d FROM '{phash_truth}'
            ),
            rep AS (
              SELECT phash_d, min(media_id) AS rep FROM h GROUP BY 1
            ),
            win AS (
              SELECT h.media_id AS a, rep.rep AS b
              FROM h JOIN rep USING (phash_d)
            ),
            bands AS (
              SELECT phash_d, b, (phash_d >> (b * 16)) & 65535 AS key
              FROM (SELECT DISTINCT phash_d FROM h),
                   (SELECT unnest([0, 1, 2, 3]) AS b)
            ),
            hp AS (
              SELECT DISTINCT x.phash_d AS pa, y.phash_d AS pb
              FROM bands x JOIN bands y
                ON x.b = y.b AND x.key = y.key AND x.phash_d < y.phash_d
              WHERE bit_count(xor(x.phash_d, y.phash_d)) <= 3
            ),
            cross_e AS (
              SELECT ra.rep AS a, rb.rep AS b
              FROM hp JOIN rep ra ON ra.phash_d = hp.pa
                      JOIN rep rb ON rb.phash_d = hp.pb
            ),
            edges AS (
              SELECT a, b FROM win UNION SELECT b, a FROM win
              UNION SELECT a, b FROM cross_e
              UNION SELECT b, a FROM cross_e
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS media_id, least(min(b), a) AS component_id
              FROM reach GROUP BY a
            )
            SELECT h.media_id,
                   coalesce(c.component_id, h.media_id) AS component_id
            FROM h LEFT JOIN comp c USING (media_id)
        """,
        "vocab_drift": f"""
            WITH tok AS (
              SELECT tokens, source
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
            ha AS (
              SELECT t, count(*)::BIGINT AS f
              FROM (SELECT unnest(tokens) AS t FROM tok
                    WHERE source < 'svc-04') GROUP BY 1),
            hb AS (
              SELECT t, count(*)::BIGINT AS f
              FROM (SELECT unnest(tokens) AS t FROM tok
                    WHERE source >= 'svc-04') GROUP BY 1),
            ta AS (SELECT sum(f) AS v FROM ha),
            tb AS (SELECT sum(f) AS v FROM hb),
            j AS (
              SELECT coalesce(ha.t, hb.t) AS token,
                     coalesce(ha.f, 0)::BIGINT AS freq_a,
                     coalesce(hb.f, 0)::BIGINT AS freq_b
              FROM ha FULL OUTER JOIN hb ON ha.t = hb.t
            )
            SELECT token, freq_a, freq_b,
                   (freq_a::HUGEINT * 1048576 // ta.v)::BIGINT AS rate_a_fp,
                   (freq_b::HUGEINT * 1048576 // tb.v)::BIGINT AS rate_b_fp,
                   ((freq_a::HUGEINT * 1048576 // ta.v)
                    - (freq_b::HUGEINT * 1048576 // tb.v))::BIGINT
                     AS drift_fp
            FROM j, ta, tb
            ORDER BY abs((freq_a::HUGEINT * 1048576 // ta.v)
                         - (freq_b::HUGEINT * 1048576 // tb.v)) DESC,
                     token ASC
            LIMIT 500
        """,
        "corpus_dedup_minhash": f"""
            WITH {lsh_ctes},
            cand AS (
              SELECT n.doc_id AS id_new, r.doc_id AS id_ref,
                     count(*)::INT AS n_bands_shared
              FROM long n JOIN long r
                ON n.band = r.band AND n.key = r.key
               AND n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
              GROUP BY 1, 2
            )
            SELECT c.id_new, c.id_ref, c.n_bands_shared,
                   ({agree12})::INT AS n_agree
            FROM cand c
            JOIN sigs sn ON sn.doc_id = c.id_new
            JOIN sigs sr ON sr.doc_id = c.id_ref
        """,
        "video_frame_phash": f"""
            SELECT media_id, frame_idx::INT AS frame_idx,
                   phash_d, phash_a
            FROM '{vframe_truth}'
        """,
        "token_counts": f"""
            SELECT doc_id,
                   (CASE WHEN length(trim(text)) = 0 THEN 0
                         ELSE len(string_split_regex(trim(text), '\\s+'))
                    END)::INT AS n_ws,
                   len(regexp_extract_all(text,
                       '[0-9A-Za-z_]+|[^0-9A-Za-z_\\s]'))::INT AS n_bpe
            FROM documents
        """,
        "doc_quality": f"""
            WITH w AS (
              SELECT doc_id, text,
                     string_split_regex(trim(text), '\\s+') AS ws
              FROM documents
            )
            SELECT doc_id,
                   (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(ws) END)::INT AS n_words,
                   round(list_sum(list_transform(ws, x -> length(x)))
                         / greatest(len(ws), 1)::DOUBLE, 6) AS mean_word_len,
                   round(length(regexp_replace(text, '[^0-9]', '', 'g'))
                         / greatest(length(text), 1)::DOUBLE, 6) AS digit_ratio,
                   round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                         x -> x IN ({stop['en']})))
                         / greatest(len(ws), 1)::DOUBLE, 6) AS stopword_ratio_en
            FROM w
        """,
        "fim_transform": f"""
            WITH tok AS (
              SELECT doc_id, tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            sp AS (
              SELECT doc_id, tokens, len(tokens) AS n,
                     ({_hfrac_sql("doc_id", "fim|apply")} < 0.5
                      AND len(tokens) >= 4) AS sel,
                     floor({_hfrac_sql("doc_id", "fim|p1")}
                           * (len(tokens) + 1))::INT AS p1
              FROM tok),
            sp2 AS (
              SELECT *, (p1 + floor({_hfrac_sql("doc_id", "fim|p2")}
                                    * (n - p1 + 1)))::INT AS p2
              FROM sp),
            outp AS (
              SELECT doc_id, sel,
                     CASE WHEN sel
                          THEN [-1] || tokens[1:p1] || [-3]
                               || tokens[p2+1:n] || [-2]
                               || tokens[p1+1:p2]
                          ELSE tokens END AS toks
              FROM sp2)
            SELECT doc_id, sel AS fim_applied, len(toks)::INT AS n_tok,
                   md5(coalesce(array_to_string(toks, ','), '')) AS tokens_md5
            FROM outp
        """,
        "bigram_novelty": f"""
            WITH tok AS (
              SELECT doc_id, tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            bi AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 2
                          THEN [tokens[i]::BIGINT * 4294967296
                                  + (tokens[i+1]::BIGINT & 4294967295)
                                for i in range(1, len(tokens))]
                          ELSE []::BIGINT[] END AS bg
              FROM tok),
            ex AS (SELECT doc_id, unnest(bg) AS b FROM bi),
            cnt AS (SELECT b, count(*)::BIGINT AS freq FROM ex GROUP BY 1),
            model AS (SELECT b, freq FROM cnt
                      ORDER BY freq DESC, b ASC LIMIT 5000),
            per AS (
              SELECT ex.doc_id, count(*)::INT AS nb,
                     sum(CASE WHEN m.b IS NULL THEN 1 ELSE 0 END)::INT AS nu,
                     sum(coalesce(m.freq, 0))::BIGINT AS hs
              FROM ex LEFT JOIN model m ON ex.b = m.b GROUP BY 1)
            SELECT t.doc_id,
                   coalesce(per.nb, 0)::INT AS n_bigrams,
                   coalesce(per.nu, 0)::INT AS n_unseen,
                   coalesce(per.hs, 0)::BIGINT AS hit_freq_sum,
                   round(CASE WHEN per.nb > 0
                              THEN per.nu::DOUBLE / per.nb END, 6) AS unseen_frac
            FROM tok t LEFT JOIN per USING (doc_id)
        """,
        "quantized_topk": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            am AS (SELECT vec_id,
                          list_max(list_transform(embedding, x -> abs(x))) AS amax
                   FROM e),
            qv AS (
              SELECT e.vec_id,
                     CASE WHEN am.amax > 0
                          THEN list_transform(e.embedding,
                                 x -> round(x::DOUBLE
                                            / (am.amax::DOUBLE / 127.0))::INT)
                          ELSE list_transform(e.embedding, x -> 0) END AS q
              FROM e JOIN am USING (vec_id)),
            n AS (SELECT vec_id, q,
                         list_dot_product(q::DOUBLE[], q::DOUBLE[]) AS nn
                  FROM qv),
            p AS (
              SELECT c.vec_id AS corpus_id, qu.vec_id AS query_id,
                     list_dot_product(c.q::DOUBLE[], qu.q::DOUBLE[]) AS d,
                     c.nn AS cc, qu.nn AS q2
              FROM n c CROSS JOIN (SELECT * FROM n WHERE vec_id < 4) qu),
            s AS (
              SELECT query_id, corpus_id,
                     CASE WHEN cc > 0 AND q2 > 0
                          THEN d / (sqrt(cc) * sqrt(q2))
                          ELSE 0.0 END AS qcos
              FROM p),
            r AS (
              SELECT query_id, corpus_id, qcos,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY qcos DESC, corpus_id ASC) AS rank
              FROM s)
            SELECT query_id, corpus_id, round(qcos, 6) AS qcos, rank::INT AS rank
            FROM r WHERE rank <= 5
        """,
        "chunk_documents": f"""
            WITH tok AS (
              SELECT doc_id, tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            c AS (
              SELECT doc_id, tokens,
                     CASE WHEN len(tokens) > 0
                          THEN range(0, ((greatest(len(tokens) - 64, 0) + 47)
                                         // 48) + 1)
                          ELSE [] END AS ks
              FROM tok),
            ex AS (SELECT doc_id, tokens, unnest(ks) AS k FROM c),
            ch AS (
              SELECT doc_id, k::INT AS chunk_id,
                     tokens[k * 48 + 1 : k * 48 + 64] AS chunk
              FROM ex)
            SELECT doc_id, chunk_id,
                   md5(coalesce(array_to_string(chunk, ','), '')) AS tokens_md5,
                   len(chunk)::INT AS n_tok
            FROM ch
        """,
        "stratified_sample": """
            SELECT doc_id, source, lang FROM (
              SELECT doc_id, source, lang,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR || '|strat'), doc_id
                     ) AS r
              FROM documents)
            WHERE r <= 10
        """,
        "mask_tokens": f"""
            WITH tok AS (
              SELECT doc_id, tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            m AS (
              SELECT doc_id, tokens,
                     [(('0x' || substring(md5(doc_id || ':'
                          || (i-1)::VARCHAR || '|mlm'), 1, 8))::BIGINT
                       / 4294967296.0) < 0.15
                      for i in range(1, len(tokens) + 1)] AS mb
              FROM tok),
            o AS (
              SELECT doc_id,
                     [CASE WHEN mb[i] THEN -9 ELSE tokens[i] END
                      for i in range(1, len(tokens) + 1)] AS toks,
                     len(list_filter(mb, b -> b))::INT AS n_masked
              FROM m)
            SELECT doc_id, n_masked, len(toks)::INT AS n_tok,
                   md5(coalesce(array_to_string(toks, ','), '')) AS tokens_md5
            FROM o
        """,
        "pmi_collocations": f"""
            -- bigram build via unnest + lead() window (vectorized; the
            -- original per-element list comprehension ran ~2 min at
            -- sf0.01 and would read as a driver-row timeout)
            WITH tok AS (
              SELECT doc_id, tokens
              FROM parquet_scan('{paths["tokenized"]}/*.parquet')
            ),
            ex AS (
              SELECT doc_id, unnest(tokens) AS t,
                     generate_subscripts(tokens, 1) AS i
              FROM tok),
            bi AS (
              SELECT t::BIGINT * 4294967296
                     + (lead(t) OVER (PARTITION BY doc_id ORDER BY i)::BIGINT
                        & 4294967295) AS b
              FROM ex
              QUALIFY lead(t) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL),
            cnt AS (SELECT b, count(*)::BIGINT AS freq FROM bi GROUP BY 1),
            model AS (SELECT b, freq FROM cnt
                      ORDER BY freq DESC, b ASC LIMIT 5000),
            nt AS (SELECT coalesce(sum(greatest(len(tokens) - 1, 0)), 0)::BIGINT AS n
                   FROM tok),
            uni AS (SELECT t, count(*)::BIGINT AS f FROM ex GROUP BY 1),
            pairs AS (
              SELECT ((b - r) // 4294967296)::BIGINT AS token,
                     (CASE WHEN r < 2147483648 THEN r
                           ELSE r - 4294967296 END)::BIGINT AS neighbor,
                     freq AS pair_freq
              FROM (SELECT b, freq,
                           ((b % 4294967296) + 4294967296) % 4294967296 AS r
                    FROM model)
              WHERE freq >= 3),
            sc AS (
              SELECT p.token, p.neighbor, p.pair_freq,
                     ua.f AS freq_a, ub.f AS freq_b,
                     (p.pair_freq * (SELECT n FROM nt))::DOUBLE
                       / (ua.f * ub.f)::DOUBLE AS score
              FROM pairs p
              JOIN uni ua ON p.token = ua.t
              JOIN uni ub ON p.neighbor = ub.t),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY token
                        ORDER BY score DESC, neighbor ASC) AS rank
              FROM sc)
            SELECT token, neighbor, pair_freq, freq_a, freq_b,
                   round(score, 6) AS score, rank::INT AS rank
            FROM r WHERE rank <= 5
        """,
        "corpus_report": r"""
            WITH w AS (
              SELECT source, md5(text) AS d,
                     (CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+'))
                      END)::INT AS nw
              FROM documents)
            SELECT source,
                   count(*)::BIGINT AS n_docs,
                   (count(*) - count(DISTINCT d))::BIGINT AS n_dup_docs,
                   sum(nw)::BIGINT AS total_words,
                   round(avg(nw), 6) AS mean_words,
                   round(quantile_cont(nw, 0.5), 4) AS p50_words,
                   max(nw)::INT AS max_words
            FROM w GROUP BY source
        """,
    }

    # representative election composes on the LITERAL components oracle
    # (same embed-as-derived-table device as the rollups below)
    o["dedup_representatives"] = f"""
        WITH base AS (
          SELECT c.component_id, c.doc_id, w.nw
          FROM ({o["dedup_components"]}) c
          JOIN (SELECT doc_id,
                       (CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(string_split_regex(trim(text), '\\s+'))
                        END)::INT AS nw
                FROM documents) w USING (doc_id)
        ),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY component_id
                     ORDER BY nw DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY component_id) AS nm
          FROM base)
        SELECT component_id, doc_id AS keep_doc_id, nw::BIGINT AS keep_n_words,
               nm::BIGINT AS n_members
        FROM r WHERE rn = 1
    """

    # apply_dedup's keep set IS the representatives oracle's keep_doc_id
    # column (singleton components elect themselves, so keeper-semi-join
    # over the all-ids election equals docs-minus-dropped over the
    # pairs-only election the Spark side runs)
    o["apply_dedup"] = f"""
        SELECT d.doc_id, d.source, md5(d.text) AS text_md5
        FROM documents d
        SEMI JOIN (SELECT keep_doc_id AS doc_id
                   FROM ({o["dedup_representatives"]})) USING (doc_id)
    """

    o["dedup_cluster_stats"] = f"""
        WITH sizes AS (
          SELECT component_id, count(*)::BIGINT AS cluster_size
          FROM ({o["dedup_components"]}) GROUP BY component_id)
        SELECT cluster_size, count(*)::BIGINT AS n_clusters
        FROM sizes GROUP BY cluster_size
    """

    # composite rollups: each leg is the LITERAL standalone oracle embedded
    # as a subquery (DuckDB allows WITH inside a derived table), tagged and
    # cast onto the shared rollup schema — the composite can never drift
    # from the standalone checks it compresses.
    def _leg(name: str, select: str) -> str:
        return f"SELECT {select} FROM ({o[name]})"

    o["pipeline_counters_rollup"] = "\nUNION ALL\n".join(
        _leg(n, f"'{tag}' AS chk, {k1}::VARCHAR AS k1, "
                f"{k2}::VARCHAR AS k2, {cnt}::BIGINT AS cnt")
        for n, tag, k1, k2, cnt in [
            ("sink_counts", "sink_counts", "decision_policy", "decision",
             "row_count"),
            ("rate_limit_overflow", "rate_limit", "service_name", "decision",
             "trace_count"),
            ("error_short_circuit", "short_circuit", "decision_policy",
             "decision", "trace_count"),
            ("force_rules", "force_rules", "decision_policy", "decision",
             "trace_count"),
        ]
    )
    o["relational_rollup"] = "\nUNION ALL\n".join(
        _leg(n, f"'{tag}' AS chk, {k}::VARCHAR AS k, {cnt}::BIGINT AS cnt, "
                f"{val}::DOUBLE AS val")
        for n, tag, k, cnt, val in [
            ("orders_enrich_join", "orders_enrich", "c_nationkey",
             "order_count", "total_price"),
            ("lineitem_semi_join", "semi", "l_returnflag", "cnt", "revenue"),
            ("lineitem_anti_join", "anti", "l_linestatus", "cnt", "0.0"),
        ]
    )
    o["events_rollup"] = "\nUNION ALL\n".join(
        _leg(n, f"'{tag}' AS chk, {k1}::VARCHAR AS k1, {k2} AS k2, "
                f"{k3} AS k3, {val}::DOUBLE AS val")
        for n, tag, k1, k2, k3, val in [
            ("events_latency_policy", "latency", "user_id", "''", "''",
             "max_value"),
            ("events_topk", "topk", "event_id", "user_id::VARCHAR", "''",
             "value"),
            ("events_attr_matchers", "attr", "event_id", "user_id::VARCHAR",
             "k_value::VARCHAR", "0.0"),
            ("events_hash_sampling", "hash", "event_id", "user_id::VARCHAR",
             "event_type::VARCHAR", "0.0"),
        ]
    )

    # Shared CTE chain: int8 quantization replay + 2 unrolled integer
    # k-means iterations (init = 8 smallest ids; trunc-div centroid means;
    # an emptied cluster keeps its previous centroid via COALESCE).
    # DuckDB `//` truncates toward zero exactly like Spark's div, and every
    # distance/sum stays far under 2^53, so the replay is bit-exact.
    _km_d = ("list_sum([ (v.q[i]-c.q[i])*(v.q[i]-c.q[i]) "
             "for i in range(1, len(v.q)+1) ])::BIGINT")
    _km_iter = """,
        d{t} AS (
          SELECT v.vec_id, c.cl, {d} AS dist
          FROM qv v CROSS JOIN c{p} c),
        a{t} AS (
          SELECT vec_id, cl FROM (
            SELECT vec_id, cl,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cl) AS rn
            FROM d{t}) WHERE rn = 1),
        u{t} AS (
          SELECT cl, pos, (sum(val)::BIGINT // count(*))::INT AS m
          FROM (SELECT a{t}.cl AS cl, unnest(v.q) AS val,
                       unnest(range(1, len(v.q)+1)) AS pos
                FROM a{t} JOIN qv v USING (vec_id)) t
          GROUP BY cl, pos),
        c{t} AS (
          SELECT c{p}.cl, COALESCE(u.q, c{p}.q) AS q
          FROM c{p} LEFT JOIN (SELECT cl, list(m ORDER BY pos) AS q
                               FROM u{t} GROUP BY cl) u USING (cl))"""
    _km = ("""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        am AS (SELECT vec_id,
                      list_max(list_transform(embedding, x -> abs(x))) AS amax
               FROM e),
        qv AS (
          SELECT e.vec_id,
                 CASE WHEN am.amax > 0
                      THEN list_transform(e.embedding,
                             x -> round(x::DOUBLE
                                        / (am.amax::DOUBLE / 127.0))::INT)
                      ELSE list_transform(e.embedding, x -> 0) END AS q
          FROM e JOIN am USING (vec_id)),
        c0 AS (
          SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cl, q
          FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT 8))"""
        + _km_iter.format(t=1, p=0, d=_km_d)
        + _km_iter.format(t=2, p=1, d=_km_d)
        + f""",
        df AS (
          SELECT v.vec_id, c.cl, {_km_d} AS dist
          FROM qv v CROSS JOIN c2 c),
        af AS (
          SELECT vec_id, cl, dist FROM (
            SELECT vec_id, cl, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cl) AS rn
            FROM df) WHERE rn = 1)""")
    o["kmeans_clusters"] = _km + """
        SELECT vec_id, cl::INT AS cluster, dist AS dist2 FROM af
    """
    # tau = 2/5: dup iff dot > 0 AND 25*dot^2 >= 4*|a|^2*|b|^2 (int-exact)
    o["semantic_dedup"] = _km + """,
        nn AS (SELECT vec_id, q,
                      list_dot_product(q::DOUBLE[], q::DOUBLE[])::BIGINT AS n2
               FROM qv),
        dropped AS (
          SELECT DISTINCT b.vec_id AS vec_id
          FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id
          JOIN nn na ON na.vec_id = a.vec_id
          JOIN nn nb ON nb.vec_id = b.vec_id
          WHERE na.n2 > 0 AND nb.n2 > 0
            AND list_dot_product(na.q::DOUBLE[], nb.q::DOUBLE[])::BIGINT > 0
            AND 25 * list_dot_product(na.q::DOUBLE[], nb.q::DOUBLE[])::BIGINT
                   * list_dot_product(na.q::DOUBLE[], nb.q::DOUBLE[])::BIGINT
                >= 4 * na.n2 * nb.n2)
        SELECT a.vec_id, a.cl::INT AS cluster
        FROM af a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """

    # Fixed-point BM25 (see operators/retrieval.py): HUGEINT replays the
    # DECIMAL(38,0) intermediates; `//` on positives == Spark's div.
    o["bm25_topk"] = f"""
        WITH tok AS (
          SELECT doc_id, tokens
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        st AS (SELECT count(*)::BIGINT AS n, sum(len(tokens))::BIGINT AS t
               FROM tok),
        qd AS (SELECT DISTINCT doc_id AS query_id, unnest(tokens) AS term
               FROM tok WHERE doc_id < 'span-000000000003'),
        qt AS (SELECT DISTINCT term FROM qd),
        post AS (SELECT doc_id, len(tokens)::BIGINT AS dl,
                        unnest(tokens) AS term
                 FROM tok),
        m AS (SELECT p.* FROM post p JOIN qt USING (term)),
        tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
               FROM m GROUP BY 1, 2, 3),
        dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        idf AS (SELECT term,
                       (1048576::HUGEINT
                          * (2*(SELECT n FROM st) - 2*df + 1))
                         // (2*df + 1) AS idf_fp
                FROM dfq),
        w AS (SELECT qd.query_id, tf.doc_id,
                     (idf.idf_fp * (44*(SELECT t FROM st))::HUGEINT * tf.tf)
                       // ((20*(SELECT t FROM st))::HUGEINT * tf.tf
                           + 6*(SELECT t FROM st)
                           + (18*(SELECT n FROM st))::HUGEINT * tf.dl) AS w
              FROM tf JOIN idf USING (term) JOIN qd USING (term)),
        sc AS (SELECT query_id, doc_id, sum(w)::BIGINT AS score_fp
               FROM w GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score_fp,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score_fp DESC, doc_id)
                       AS rank
              FROM sc)
        SELECT query_id, doc_id, score_fp, rank::INT AS rank
        FROM r WHERE rank <= 10
    """
    # The split index/search path is proven value-identical to the
    # one-shot (tests/test_retrieval.py), so it shares the oracle SQL:
    # the driver row then attests the SCALE shape (written inverted
    # index + map-only search), not just the convenience shape.
    o["bm25_search_index"] = o["bm25_topk"]

    # Threshold retrieval (decontamination shape): the same exact CTE
    # chain cut by a score BAR instead of a rank — a contaminated doc
    # outside any top-k must still be flagged.
    o["bm25_threshold_matches"] = f"""
        WITH tok AS (
          SELECT doc_id, tokens
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        st AS (SELECT count(*)::BIGINT AS n, sum(len(tokens))::BIGINT AS t
               FROM tok),
        qd AS (SELECT DISTINCT doc_id AS query_id, unnest(tokens) AS term
               FROM tok WHERE doc_id < 'span-000000000003'),
        qt AS (SELECT DISTINCT term FROM qd),
        post AS (SELECT doc_id, len(tokens)::BIGINT AS dl,
                        unnest(tokens) AS term
                 FROM tok),
        m AS (SELECT p.* FROM post p JOIN qt USING (term)),
        tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
               FROM m GROUP BY 1, 2, 3),
        dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        idf AS (SELECT term,
                       (1048576::HUGEINT
                          * (2*(SELECT n FROM st) - 2*df + 1))
                         // (2*df + 1) AS idf_fp
                FROM dfq),
        w AS (SELECT qd.query_id, tf.doc_id,
                     (idf.idf_fp * (44*(SELECT t FROM st))::HUGEINT * tf.tf)
                       // ((20*(SELECT t FROM st))::HUGEINT * tf.tf
                           + 6*(SELECT t FROM st)
                           + (18*(SELECT n FROM st))::HUGEINT * tf.dl) AS w
              FROM tf JOIN idf USING (term) JOIN qd USING (term)),
        sc AS (SELECT query_id, doc_id, sum(w)::BIGINT AS score_fp
               FROM w GROUP BY 1, 2)
        SELECT query_id, doc_id, score_fp
        FROM sc WHERE score_fp >= 40000000
    """

    # Trigram counts: independent formulation (list-comprehension slices
    # vs Spark's zip_with over shifted slices) — no shared gram formula.
    o["ngram_counts"] = f"""
        WITH tok AS (
          SELECT tokens FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        ex AS (
          SELECT unnest([array_to_string(tokens[i:i+2], ',')
                         for i in range(1, len(tokens) - 1)]) AS gram
          FROM tok WHERE len(tokens) >= 3)
        SELECT gram, count(*)::BIGINT AS freq
        FROM ex GROUP BY 1
        ORDER BY freq DESC, gram ASC LIMIT 1000
    """

    # BPE: the shared pure-Python learner runs here on the IDENTICAL
    # md5-ranked sample (read from the driver's testdata — the same table
    # the pre-registered `documents` view serves), then the apply is
    # replayed through an INDEPENDENT nested-replace chain over the
    # NEWLINE-FRAMED token representation: each token owns BOTH its
    # delimiters ("\n t \n", adjacent frames -> 2-newline gap, words
    # separated by a 4-newline gap no pattern can span), so framed-pattern
    # matches can never overlap and replace-all == greedy left-to-right
    # EXACTLY, adjacent same-pair occurrences included (a single-space
    # form is NOT equivalent: 'papa' with merge (p,a) merges only once —
    # operators/bpe.py module notes).
    # The build needs file IO (unlike every other, purely textual, oracle
    # section) — isolate its failure to the two BPE rows instead of
    # taking down the whole oracle dict if the testdata moved.
    try:
        o.update(_bpe_oracles())
    except Exception as exc:  # noqa: BLE001 — degrade to rows-only
        print(
            f"bpe oracle build failed ({exc!r}); "
            "bpe_encode/bpe_encode_ids degrade to rows-only",
            file=sys.stderr,
        )

    # T5 span corruption: block grid replay (exclusive prefix counts via
    # list_filter over the corr prefix — independent of the Spark
    # slice-filter formulation only in spelling; the planted scalar-
    # reference test is the real guard per the symmetric-bug rule).
    _t5h = _hfrac_sql("doc_id || ':' || b::VARCHAR", "t5")
    o["span_corruption"] = _SPAN_CORRUPTION_SQL_TEMPLATE.format(
        t5h=_t5h, tokenized=paths["tokenized"]
    )

    # DSIR importance selection: independent DuckDB replay of the full
    # model-build + smoothing + fixed-point ratio + top-k chain. The
    # bigram pack/bucket formulas are shared with the Spark side by
    # necessity (symmetric-bug guard: the scalar reference + kernel
    # equality tests in tests/test_selection.py); HUGEINT carries the
    # S * mass * (R+B) intermediates the Spark side rides DECIMAL(38,0)
    # for, and both engines' integer division truncates non-negatives.
    _dsir_sc_cte = f"""
        WITH tok AS (
          SELECT doc_id, tokens, source
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        bi AS (
          SELECT doc_id, source,
                 CASE WHEN len(tokens) >= 2
                      THEN [tokens[i]::BIGINT * 4294967296
                              + (tokens[i+1]::BIGINT & 4294967295)
                            for i in range(1, len(tokens))]
                      ELSE []::BIGINT[] END AS bg
          FROM tok),
        exb AS (
          SELECT doc_id, source,
                 ((unnest(bg) % 65536) + 65536) % 65536 AS f
          FROM bi),
        model AS (
          SELECT f,
                 sum(CASE WHEN source = 'svc-00' THEN 1 ELSE 0 END)
                   ::BIGINT AS tf,
                 count(*)::BIGINT AS rf
          FROM exb GROUP BY 1),
        tot AS (SELECT sum(tf) AS t_total, sum(rf) AS r_total FROM model),
        per AS (
          SELECT exb.doc_id, count(*)::INT AS n_feat,
                 sum(coalesce(m.tf, 0) + 1)::BIGINT AS tmass,
                 sum(coalesce(m.rf, 0) + 1)::BIGINT AS rmass
          FROM exb LEFT JOIN model m ON exb.f = m.f GROUP BY 1),
        sc AS (
          SELECT t.doc_id,
                 coalesce(per.n_feat, 0) AS n_feat,
                 coalesce(per.tmass, 0) AS target_mass,
                 coalesce(per.rmass, 0) AS raw_mass,
                 CASE WHEN coalesce(per.n_feat, 0) > 0
                      THEN (1048576::HUGEINT * per.tmass
                              * (tot.r_total + 65536))
                           // (per.rmass::HUGEINT * (tot.t_total + 65536))
                      ELSE 1048576 END AS ratio
          FROM tok t LEFT JOIN per USING (doc_id) CROSS JOIN tot)"""
    o["dsir_select"] = f"""
        {_dsir_sc_cte},
        r AS (
          SELECT *, row_number() OVER (ORDER BY ratio DESC, doc_id ASC)
                      AS rank
          FROM sc)
        SELECT doc_id, n_feat::INT AS n_feat, target_mass, raw_mass,
               ratio::BIGINT AS ratio_fp, rank::INT AS rank
        FROM r WHERE rank <= 500
    """
    # importance RESAMPLING: exact-integer md5 acceptance test,
    # rate 0.5 -> r_fp = 524288; keep iff h32 * 2^40 < ratio * r_fp * 2^32.
    # The ratio >= ceil(2^40 / r_fp) saturation disjunct mirrors the Spark
    # side's overflow guard (implied by the product inequality, so the
    # keep set is unchanged; it bounds the evaluated products identically)
    o["dsir_sample"] = f"""
        {_dsir_sc_cte}
        SELECT doc_id, n_feat::INT AS n_feat, target_mass, raw_mass,
               ratio::BIGINT AS ratio_fp
        FROM sc
        WHERE ratio >= 2097152
           OR ('0x' || substring(md5(doc_id || '|dsir'), 1, 8))::BIGINT
                * 1099511627776::HUGEINT
              < ratio::HUGEINT * 524288 * 4294967296
    """

    # Length-bucketed batching: the md5 rank key is the one shared
    # formula (hash recipe rule); the bucket spelling is independent
    # (list_filter count vs Spark's sum-of-comparisons) and the global
    # rank is DuckDB's own window — vs Spark's two-phase subrange
    # reconstruction, which is exactly the property under test.
    _batch_rank_cte = f"""
        WITH tok AS (
          SELECT doc_id, n_tok
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        b AS (
          SELECT doc_id, n_tok,
                 len(list_filter([48, 56, 64], e -> e < n_tok)) AS bucket,
                 md5(doc_id || '|' || 'batch') AS h
          FROM tok),
        r AS (
          SELECT doc_id, n_tok, bucket,
                 row_number() OVER (PARTITION BY bucket
                                    ORDER BY h, doc_id) - 1 AS pos
          FROM b)"""
    o["length_batches"] = f"""
        {_batch_rank_cte}
        SELECT doc_id, n_tok::INT AS n_tok, bucket::INT AS bucket,
               (pos // 32)::BIGINT AS batch_seq,
               (pos % 32)::INT AS pos_in_batch
        FROM r
    """
    o["batch_pad_stats"] = f"""
        {_batch_rank_cte}
        SELECT bucket::INT AS bucket, (pos // 32)::BIGINT AS batch_seq,
               count(*)::INT AS n_docs, max(n_tok)::INT AS max_len,
               sum(n_tok)::BIGINT AS sum_len,
               (count(*) * max(n_tok) - sum(n_tok))::BIGINT AS pad_tokens
        FROM r GROUP BY 1, 2
    """

    # Vocabulary coverage curve: DuckDB's own rank window + filtered
    # sums vs Spark's TakeOrdered + conditional-sum stack — independent
    # formulations of the same exact integer curve.
    o["vocab_coverage"] = f"""
        WITH ex AS (
          SELECT unnest(tokens) AS t
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        freq AS (SELECT t, count(*)::BIGINT AS f FROM ex GROUP BY 1),
        tot AS (SELECT count(*)::BIGINT AS v, sum(f)::BIGINT AS n
                FROM freq),
        rk AS (
          SELECT f, row_number() OVER (ORDER BY f DESC, t ASC) AS r
          FROM freq),
        cuts(cutoff) AS (VALUES (64), (256), (1024), (4096), (16384))
        SELECT c.cutoff::INT AS cutoff, tot.v AS n_types,
               coalesce(sum(rk.f) FILTER (rk.r <= c.cutoff), 0)::BIGINT
                 AS covered,
               tot.n AS total,
               round(coalesce(sum(rk.f) FILTER (rk.r <= c.cutoff), 0)
                     / tot.n::DOUBLE, 6) AS coverage
        FROM cuts c CROSS JOIN tot CROSS JOIN rk
        GROUP BY 1, 2, 4
    """

    # Tokenizer fertility: reuses the token_counts fragments (the
    # lookaround-vs-maximal-run equivalence is already attested there),
    # rolled up per source with HUGEINT fixed-point division.
    o["tokenizer_fertility"] = """
        WITH c AS (
          SELECT source,
                 length(text)::BIGINT AS nc,
                 (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\\s+'))
                  END)::BIGINT AS ws,
                 len(regexp_extract_all(text,
                     '[0-9A-Za-z_]+|[^0-9A-Za-z_\\s]'))::BIGINT AS bp
          FROM documents)
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(nc)::BIGINT AS sum_chars,
               sum(ws)::BIGINT AS sum_ws,
               sum(bp)::BIGINT AS sum_bpe,
               ((1048576::HUGEINT * sum(nc))
                 // greatest(sum(ws), 1))::BIGINT AS chars_per_ws_fp,
               ((1048576::HUGEINT * sum(nc))
                 // greatest(sum(bp), 1))::BIGINT AS chars_per_bpe_fp
        FROM c GROUP BY 1
    """

    # Packing with doc-span metadata: the corpus_to_shards pack chain
    # (verbatim CTEs) with the span layout aggregated from the SAME cut
    # rows DuckDB-side (string_agg in gs order) — the cross-engine check
    # that the span metadata tiles exactly like the token layout.
    o["pack_doc_spans"] = """
        WITH tok AS (
          SELECT doc_id,
                 CASE WHEN trim(regexp_replace(text, '\\s+', ' ', 'g')) = '' THEN []::INTEGER[]
                      ELSE [(('0x' || substring(md5(x), 1, 8))::BIGINT % 4096)::INT
                            for x in string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')] END AS tokens
          FROM documents
        ),
        o AS (
          SELECT tokens, len(tokens) AS n,
                 coalesce(sum(len(tokens)) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
          FROM tok
        ),
        pieces AS (
          SELECT off, n, tokens,
                 unnest(range(0, CASE WHEN n = 0 THEN 0
                   ELSE (off + n - 1) // 256 - off // 256 + 1 END)) AS k
          FROM o
        ),
        cut AS (
          SELECT off // 256 + k AS example_id,
                 greatest(off, (off // 256 + k) * 256) AS gs,
                 tokens[greatest(off, (off // 256 + k) * 256) - off + 1
                        : least(off + n, (off // 256 + k + 1) * 256) - off] AS sl
          FROM pieces
        ),
        ex AS (
          SELECT example_id,
                 flatten(list(sl ORDER BY gs)) AS tokens,
                 string_agg((gs - example_id * 256)::VARCHAR || ':'
                              || len(sl)::VARCHAR, ';' ORDER BY gs)
                   AS spans_str
          FROM cut GROUP BY example_id
        )
        SELECT example_id,
               md5(coalesce(array_to_string(tokens, ','), '')) AS tokens_md5,
               len(tokens)::INT AS n_tok, spans_str
        FROM ex
    """

    # Stride interleaving: DuckDB's own per-source rank window + the
    # same exact-integer pass arithmetic (lcm(2,1)=2: stride 1 for the
    # weight-2 sources, 2 for weight-1).
    _ilv_w = ", ".join(
        f"('svc-{i:02d}', {1 if i < 4 else 2})" for i in range(8)
    )
    o["interleave_key"] = f"""
        WITH tok AS (
          SELECT doc_id, source
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id || '|' || 'interleave'), doc_id)
                   - 1 AS rk
          FROM tok),
        w(source, stride) AS (VALUES {_ilv_w})
        SELECT doc_id, source,
               lpad(((rk + 1) * stride)::VARCHAR, 19, '0')
                 || '|' || lpad(length(source)::VARCHAR, 4, '0')
                 || '|' || source || '|' || doc_id AS interleave_key
        FROM r JOIN w USING (source)
    """

    # Stratified sharding: DuckDB's own per-source rank window vs
    # Spark's two-phase subrange reconstruction + round-robin math.
    o["stratified_shards"] = f"""
        WITH tok AS (
          SELECT doc_id, source
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id || '|' || 'shards'), doc_id) - 1
                   AS rk
          FROM tok)
        SELECT doc_id, source, (rk % 8)::INT AS shard,
               (rk // 8)::BIGINT AS stratum_pos
        FROM r
    """

    # Token-budget enforcement: DuckDB's own per-source running-sum
    # window vs Spark's two-phase subrange reconstruction — only the md5
    # order key is shared (hash recipe rule).
    o["token_budget"] = f"""
        WITH tok AS (
          SELECT doc_id, source, n_tok
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        c AS (
          SELECT doc_id, source, n_tok,
                 sum(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY md5(doc_id || '|' || 'budget'), doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
        SELECT doc_id, source, n_tok::INT AS n_tok,
               cum::BIGINT AS cum_tokens
        FROM c WHERE cum <= 100000
    """

    # Shard manifest: the attested corpus_to_shards chain as a subquery,
    # rolled up to the per-shard loader-integrity record (counts + the
    # shard_pos-order digest-of-digests).
    o["shard_manifest"] = f"""
        SELECT shard::INT AS shard,
               count(*)::BIGINT AS n_examples,
               sum(n_tok)::BIGINT AS n_tokens,
               md5(string_agg(tokens_md5, '' ORDER BY shard_pos))
                 AS content_md5
        FROM ({o["corpus_to_shards"]})
        GROUP BY 1
    """

    # Curriculum ordering: DuckDB's own global window vs Spark's
    # (metric, md5-prefix) two-phase reconstruction — the global-rank
    # equality is the property under test; only the md5 tie-break
    # recipe is shared (hash recipe rule).
    o["curriculum_order"] = f"""
        WITH tok AS (
          SELECT doc_id, n_tok
          FROM parquet_scan('{paths["tokenized"]}/*.parquet')),
        r AS (
          SELECT doc_id, n_tok,
                 row_number() OVER (
                   ORDER BY n_tok ASC,
                            md5(doc_id || '|' || 'curriculum'),
                            doc_id) - 1 AS rank
          FROM tok),
        t AS (SELECT count(*) AS total FROM tok)
        SELECT doc_id, n_tok::INT AS n_tok, rank::BIGINT AS rank,
               ((rank * 4) // t.total)::INT AS phase
        FROM r CROSS JOIN t
    """
    return o


def _bpe_oracles() -> dict[str, str]:
    import hashlib

    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.operators.bpe import learn_bpe_from_texts

    o: dict[str, str] = {}
    _dt = pq.read_table(
        f"{_ORACLE_TESTDATA}/documents.parquet", columns=["doc_id", "text"]
    )
    _pairs = sorted(
        zip(
            [str(x) for x in _dt.column("doc_id").to_pylist()],
            _dt.column("text").to_pylist(),
        ),
        key=lambda p: (
            hashlib.md5(f"{p[0]}|bpe".encode()).hexdigest(),
            p[0],
        ),
    )[:256]
    _merges = learn_bpe_from_texts([t for _, t in _pairs], 48)

    def _sq(tok: str) -> str:
        return tok.replace("'", "''")

    _expr = "s"
    for _a, _b in _merges:
        _expr = (
            f"replace({_expr}, '\n{_sq(_a)}\n\n{_sq(_b)}\n',"
            f" '\n{_sq(_a + _b)}\n')"
        )
    # shared CTE prefix: normalize -> newline-framed tokens -> replace
    # chain -> pieces (split on newlines, drop the empty gap artifacts)
    _bpe_pieces_cte = f"""
        WITH d AS (SELECT doc_id, text FROM documents),
        norm AS (
          SELECT doc_id,
                 trim(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
          FROM d),
        sp AS (
          SELECT doc_id,
            CASE WHEN nt IS NOT NULL AND nt != ''
              THEN array_to_string(list_transform(
                     string_split(nt, ' '),
                     w -> array_to_string(list_transform(
                            string_split(w, '') || ['</w>'],
                            c -> chr(10) || c || chr(10)), '')),
                   chr(10) || chr(10))
              ELSE NULL END AS s
          FROM norm),
        m AS (SELECT doc_id, {_expr} AS s2 FROM sp),
        p AS (
          SELECT doc_id,
            CASE WHEN s2 IS NULL THEN []::VARCHAR[]
                 ELSE list_filter(string_split(s2, chr(10)),
                                  x -> x != '') END AS pieces
          FROM m)"""
    o["bpe_encode"] = f"""
        {_bpe_pieces_cte}
        SELECT doc_id, len(pieces)::INT AS n_pieces,
               md5(coalesce(array_to_string(pieces, ','), '')) AS pieces_md5
        FROM p
    """

    # BPE to dense ids: same pieces CTE, then the deterministic vocab
    # (alphabet ∪ END ∪ merge products, sorted, ids from 1; UNK=0)
    # embedded as VALUES and applied positionally via lockstep unnest.
    from otel_tail_sampler_spark.operators.bpe import (
        bpe_vocab,
        sample_alphabet,
    )

    _vocab = bpe_vocab(_merges, sample_alphabet([t for _, t in _pairs]))
    _vrows = ", ".join(
        f"('{_sq(p)}', {i})" for p, i in sorted(_vocab.items())
    )
    o["bpe_encode_ids"] = f"""
        {_bpe_pieces_cte},
        v(piece, id) AS (VALUES {_vrows}),
        px AS (
          SELECT doc_id, unnest(pieces) AS piece,
                 unnest(range(1, len(pieces) + 1)) AS pos
          FROM p),
        ids AS (
          SELECT px.doc_id, px.pos, coalesce(v.id, 0) AS tid
          FROM px LEFT JOIN v ON px.piece = v.piece),
        agg AS (
          SELECT doc_id, list(tid ORDER BY pos) AS toks
          FROM ids GROUP BY doc_id)
        SELECT p.doc_id, coalesce(len(agg.toks), 0)::INT AS n_tok,
               md5(coalesce(array_to_string(agg.toks, ','), ''))
                 AS tokens_md5
        FROM p LEFT JOIN agg USING (doc_id)
    """
    return o


_SPAN_CORRUPTION_SQL_TEMPLATE = """
        WITH tok AS (
          SELECT doc_id, tokens
          FROM parquet_scan('{tokenized}/*.parquet')),
        base AS (
          SELECT doc_id, tokens, len(tokens) AS n,
                 CASE WHEN len(tokens) > 0
                      THEN (len(tokens) + 31) // 32 ELSE 0 END AS nb
          FROM tok),
        c AS (
          SELECT doc_id, tokens, n, nb,
                 [{t5h} < 0.25 for b in range(0, nb)] AS corr
          FROM base),
        k AS (
          SELECT *, [len(list_filter(corr[1:b], x -> x))
                     for b in range(0, nb)] AS kex
          FROM c),
        io AS (
          SELECT doc_id, n,
            flatten([CASE WHEN corr[b+1]
                 THEN [-100 - kex[b+1]]
                      || tokens[b*32+9 : least((b+1)*32, n)]
                 ELSE tokens[b*32+1 : least((b+1)*32, n)] END
               for b in range(0, nb)]) AS inputs,
            flatten([CASE WHEN corr[b+1]
                 THEN [-100 - kex[b+1]]
                      || tokens[b*32+1 : least(b*32+8, n)]
                 ELSE []::INT[] END for b in range(0, nb)]) AS tbody,
            len(list_filter(corr, x -> x)) AS ns
          FROM k),
        fin AS (
          SELECT doc_id,
            CASE WHEN n > 0 THEN inputs ELSE []::INT[] END AS inputs,
            CASE WHEN n > 0 THEN tbody || [-100 - ns]
                 ELSE []::INT[] END AS targets,
            CASE WHEN n > 0 THEN ns ELSE 0 END AS n_spans
          FROM io)
        SELECT doc_id, n_spans::INT AS n_spans,
               len(inputs)::INT AS n_input, len(targets)::INT AS n_target,
               md5(coalesce(array_to_string(inputs, ','), ''))
                 AS inputs_md5,
               md5(coalesce(array_to_string(targets, ','), ''))
                 AS targets_md5
        FROM fin
    """
