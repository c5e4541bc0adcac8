"""Config-file surface: dict/JSON -> SamplerConfig + force rules.

Mirrors the reference's YAML config shape (/root/reference/src/config.rs,
config/default.yaml, config/production.yaml) so an operator of the reference
can express the same knobs here:

    {
      "sampling": {
        "error":       {"sample_rate": 1.0},
        "latency":     {"threshold_ms": 30000, "sample_rate": 1.0},
        "cardinality": {"max_span_count": 100},
        "always_sample_errors": false,
        "strategy": "any_match",
        "consensus_threshold": 0.5,
        "rate_limit": {"key": "service_name", "per_key": null},
        "policies": [  # extra configurable policies (D4)
          {"name": "slow-payments", "sample_rate": 1.0,
           "conditions": [{"type": "service", "match": "prefix", "value": "payment"}]}
        ]
      },
      "force_rules": [...]           # operators.force_rules dict shape
    }
"""

from __future__ import annotations

import json

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ConfigurablePolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)


def sampler_config_from_dict(d: dict) -> SamplerConfig:
    s = d.get("sampling", d)
    err = s.get("error", {})
    lat = s.get("latency", {})
    card = s.get("cardinality", {})
    rl = s.get("rate_limit", {})
    extra = tuple(
        ConfigurablePolicy(
            name=p["name"],
            conditions=tuple(p.get("conditions", [])),
            sample_rate=p.get("sample_rate", 1.0),
        )
        for p in s.get("policies", [])
    )
    return SamplerConfig(
        error=ErrorPolicy(sample_rate=err.get("sample_rate", 1.0)),
        latency=LatencyPolicy(
            threshold_ms=lat.get("threshold_ms", 30_000),
            sample_rate=lat.get("sample_rate", 1.0),
        ),
        cardinality=CardinalityPolicy(
            max_span_count=card.get("max_span_count", 100)
        ),
        extra_policies=extra,
        strategy=s.get("strategy", "any_match"),
        consensus_threshold=s.get("consensus_threshold", 0.5),
        always_sample_errors=s.get("always_sample_errors", False),
        rate_limit_key=rl.get("key", "service_name"),
        rate_limit_per_key=rl.get("per_key"),
    )


def force_rules_from_dict(d: dict) -> list[dict]:
    return list(d.get("force_rules", []))


def load_config(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)
