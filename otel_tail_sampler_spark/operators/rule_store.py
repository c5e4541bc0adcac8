"""Dynamic force-rule storage: a lake-backed rule table with CRUD + reload.

Replaces the reference's Redis rule store and pub/sub update channel
(/root/reference/src/sampling/force_sampling.rs:486-601 — save_rule /
delete_rule / load_rules / subscribe-to-updates). In a bounded Spark job the
natural analog is a tiny versioned table on the lake: every run loads the
CURRENT rule set at start (the reference's 'reload on update' collapses to
'reload per run'), and CRUD operations append a new version row so updates
are atomic, ordered, and auditable — no coordination service needed.

Table layout (one row per rule per version; latest version wins,
deleted=true tombstones a rule):

    rule_id string, version long, deleted boolean, priority int,
    enabled boolean, expires_at_ms long, action string, payload string(JSON)

``payload`` carries the matcher lists JSON-encoded — matchers are a nested
variable-shape structure, and the rule table is tiny (human-scale counts),
so a JSON column beats a rigid nested schema here.

Scale posture: the table is read once per run on the driver (collect of a
few hundred rows) and folded into column expressions by
operators.force_rules — the rules NEVER join against the span table.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.fs import path_exists
from otel_tail_sampler_spark.functions.tables import local_table

RULE_TABLE_SCHEMA = (
    "rule_id string, version long, deleted boolean, priority int, "
    "enabled boolean, expires_at_ms long, action string, payload string"
)


def _to_row(rule: dict, version: int) -> tuple:
    payload = json.dumps(
        {
            "resource_matchers": rule.get("resource_matchers", []),
            "span_matchers": rule.get("span_matchers", []),
        },
        sort_keys=True,
    )
    return (
        rule["id"],
        version,
        False,  # deleted: delete_rule writes its own tombstone row
        int(rule.get("priority", 0)),
        bool(rule.get("enabled", True)),
        rule.get("expires_at_ms"),
        rule.get("action"),
        payload,
    )


def _next_version(spark: SparkSession, path: str) -> int:
    if not path_exists(spark, path):  # first write
        return 1
    df = spark.read.schema(RULE_TABLE_SCHEMA).parquet(path)
    return int(df.agg(F.max("version")).collect()[0][0] or 0) + 1


def save_rule(spark: SparkSession, path: str, rule: dict) -> int:
    """Upsert (create or update): append the rule at a new version.
    Returns the version written. (force_sampling.rs:486-517 save_rule)"""
    v = _next_version(spark, path)
    local_table(spark, [_to_row(rule, v)], RULE_TABLE_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(path)
    return v


def delete_rule(spark: SparkSession, path: str, rule_id: str) -> int:
    """Tombstone a rule (force_sampling.rs:560-577 delete_rule)."""
    v = _next_version(spark, path)
    row = (rule_id, v, True, 0, False, None, None, "{}")
    local_table(spark, [row], RULE_TABLE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    return v


def load_rules(spark: SparkSession, path: str) -> list[dict]:
    """Latest-version-wins snapshot of the rule table, as the dict shape
    operators.force_rules consumes (force_sampling.rs:519-558 load_rules;
    expiry/enabled filtering happens downstream in active_rules so callers
    can inspect the full set).

    Concurrency contract: version allocation (_next_version) is a
    read-then-append with no coordination — the store assumes a SINGLE
    WRITER (the reference's Redis store had atomic updates; a parquet
    directory does not). If two writers do race onto the same version,
    the snapshot is still deterministic: ties break on the data file's
    path (lexicographically last wins), which is stable across reads.
    For true multi-writer CRUD, back this with a conditional-commit table
    format (the Iceberg source, when its jar is present). Only a missing
    table reads as empty; one that fails to read raises."""
    if not path_exists(spark, path):
        return []
    df = spark.read.schema(RULE_TABLE_SCHEMA).parquet(path)
    w_rows = (
        df.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("rule_id").orderBy(
                    F.desc("version"), F.desc(F.col("_metadata.file_path"))
                )
            ),
        )
        .filter((F.col("_rn") == 1) & ~F.col("deleted"))
        .collect()
    )
    out = []
    for r in w_rows:
        payload = json.loads(r["payload"])
        out.append(
            {
                "id": r["rule_id"],
                "priority": r["priority"],
                "enabled": r["enabled"],
                "expires_at_ms": r["expires_at_ms"],
                "action": r["action"],
                "resource_matchers": payload.get("resource_matchers", []),
                "span_matchers": payload.get("span_matchers", []),
            }
        )
    return out


def apply_rules_from_table(
    traces: DataFrame,
    spans: DataFrame,
    rules_path: str,
    now_ms: int | None = None,
) -> DataFrame:
    """Reload-then-apply: the per-run analog of the reference's rule
    subscription — every pipeline run sees the rule table's current state."""
    from otel_tail_sampler_spark.operators.force_rules import apply_force_rules

    rules = load_rules(traces.sparkSession, rules_path)
    if now_ms is None:
        now_ms = int(time.time() * 1000)
    return apply_force_rules(traces, spans, rules, now_ms=now_ms)
