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
from dataclasses import replace

from otel_tail_sampler_spark.operators.policies import (
    ConfigurablePolicy,
    SamplerConfig,
)


def sampler_config_from_dict(d: dict) -> SamplerConfig:
    """``SamplerConfig`` from the keys of ``d``'s ``sampling`` block (or of
    ``d`` itself, ``force_rules`` aside): a key the dict lacks keeps the
    default of ``SamplerConfig()``, down to a policy field, and an unknown
    key raises ``TypeError``. ``rate_limit.<k>`` sets ``rate_limit_<k>``
    and ``policies`` sets ``extra_policies``."""
    if "sampling" in d:
        s = dict(d["sampling"])
    else:
        s = {k: v for k, v in d.items() if k != "force_rules"}
    base = SamplerConfig()
    for name in ("error", "latency", "cardinality"):
        if name in s:
            s[name] = replace(getattr(base, name), **s[name])
    for k, v in s.pop("rate_limit", {}).items():
        s[f"rate_limit_{k}"] = v
    if "policies" in s:
        s["extra_policies"] = tuple(
            ConfigurablePolicy(**{**p, "conditions": tuple(p.get("conditions", ()))})
            for p in s.pop("policies")
        )
    return SamplerConfig(**s)


def force_rules_from_dict(d: dict) -> list[dict]:
    return list(d.get("force_rules", []))


def load_config(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)
