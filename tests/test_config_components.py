"""Config surface, connected-components dedup, resource-attribute projection."""

import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.config import (
    force_rules_from_dict,
    sampler_config_from_dict,
)
from otel_tail_sampler_spark.operators.dedup import dedup_components
from otel_tail_sampler_spark.operators.policies import SamplerConfig, decide

CONFIG = {
    "sampling": {
        "error": {"sample_rate": 0.5},
        "latency": {"threshold_ms": 5000, "sample_rate": 0.1},
        "cardinality": {"max_span_count": 500},
        "always_sample_errors": True,
        "strategy": "any_match",
        "rate_limit": {"key": "service_name", "per_key": 10},
        "policies": [
            {
                "name": "payments",
                "sample_rate": 1.0,
                "conditions": [
                    {"type": "service", "match": "prefix", "value": "payment"}
                ],
            }
        ],
    },
    "force_rules": [
        {"id": "r1", "priority": 9, "resource_matchers": [], "span_matchers": [],
         "action": "force_keep"}
    ],
}


def test_config_round_trip(spark):
    cfg = sampler_config_from_dict(CONFIG)
    assert cfg.error.sample_rate == 0.5
    assert cfg.latency.threshold_ms == 5000
    assert cfg.always_sample_errors and cfg.rate_limit_per_key == 10
    assert cfg.extra_policies[0].name == "payments"
    assert force_rules_from_dict(CONFIG)[0]["id"] == "r1"

    # config actually drives decisions
    rows = [("T1", "payment-service", 3, False, 0, 10, 0, 100, ["op"], "R")]
    cols = (
        "trace_id string, service_name string, span_count long, has_error boolean,"
        "error_count long, max_duration_ms long, min_timestamp_ms long,"
        "max_timestamp_ms long, operations array<string>, root_span_id string"
    )
    df = spark.createDataFrame(rows, cols)
    out = decide(df, cfg).collect()[0]
    assert out["decision"] == "keep" and out["decision_policy"] == "payments"


def test_config_defaults_and_unknown_keys():
    # a key the dict lacks keeps SamplerConfig's default, including the
    # 30 s latency threshold of a partial latency block
    assert sampler_config_from_dict({}) == SamplerConfig()
    cfg = sampler_config_from_dict({"sampling": {"latency": {"sample_rate": 0.5}}})
    assert cfg.latency.threshold_ms == 30_000 and cfg.latency.sample_rate == 0.5
    # a misspelled key raises instead of falling back to the default
    with pytest.raises(TypeError, match="treshold_ms"):
        sampler_config_from_dict({"sampling": {"latency": {"treshold_ms": 500}}})


def test_dedup_components_basic(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 3)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 8, 9]], "doc_id long")
    comp = {
        r["doc_id"]: r["component_id"]
        for r in dedup_components(pairs, all_ids).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 8: 1, 5: 5, 6: 5, 9: 9}


def test_dedup_components_chain(spark):
    # a long path exercises multi-round propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    comp = {r["doc_id"]: r["component_id"] for r in dedup_components(pairs).collect()}
    assert set(comp.values()) == {1} and len(comp) == 12


def test_dedup_components_end_to_end(spark):
    """minhash pairs -> components: planted dup triples collapse to one keeper."""
    import pandas as pd

    from otel_tail_sampler_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    pdf = docs.toPandas()
    d1, d2 = pdf.copy(), pdf.copy()
    d1["doc_id"] += 1000
    d2["doc_id"] += 2000
    trip = spark.createDataFrame(pd.concat([pdf, d1, d2]))
    pairs = minhash_lsh_pairs(trip, num_hashes=12, bands=6)
    comp = dedup_components(pairs, trip)
    keepers = comp.groupBy("component_id").count().filter("count >= 3")
    assert keepers.count() == 10  # each original doc leads a 3-clique
    assert comp.filter("component_id >= 1000").count() == 0  # min-id keeps


def test_resource_attributes_projection(spark):
    from otel_tail_sampler_spark.functions.matchers import resource_attributes

    df = spark.createDataFrame(
        [
            (
                "payment-service",
                {"tenant.id": "acme", "http.url": "x", "k8s.pod": "p1",
                 "deployment.env": "prod"},
            )
        ],
        "service_name string, attributes map<string,string>",
    )
    out = df.select(
        resource_attributes(F.col("attributes"), F.col("service_name")).alias("r")
    ).collect()[0]["r"]
    assert out["service.name"] == "payment-service"
    assert out["tenant.id"] == "acme" and out["k8s.pod"] == "p1"
    assert out["deployment.env"] == "prod"
    assert "http.url" not in out
