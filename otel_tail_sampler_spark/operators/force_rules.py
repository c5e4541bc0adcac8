"""Force keep/drop rules (D7) — dynamic rule table -> broadcast evaluation.

Re-expresses /root/reference/src/sampling/force_sampling.rs:
* rule model (:79-105): priority, expiry, resource matchers + span matchers,
  action force_keep|force_drop;
* trace matching (:271-299): ALL resource matchers match AND (span matchers
  empty OR some span matches ALL span matchers);
* engine (:531-549): enabled + unexpired rules evaluated in priority order,
  first match wins; ForceDrop overrides Keep, ForceKeep rescues drops
  (precedence applied in operators.policies.decide).

The reference stores rules in Redis; here they are a tiny driver-side list
folded into generated column expressions — the J3 'broadcast join vs tiny
table' case where folding the table into the plan beats any physical join
(SURVEY.md §2.3).

Span-level matchers need per-trace existence flags: max(matches) per
(trace, rule). Over assembled traces (apply_force_rules) ONE extra
aggregation computes them, grouped on the trace key ``(trace_k1,
trace_k2)`` that assembly groups on, and left-joined back onto the traces
on it; the one-pass route (operators.routing.route_spans) evaluates the
same aggregates as windows over the trace key, next to the summary.

Rule dict shape (FIXTURES.md §4):
    {"id": "r1", "priority": 100, "enabled": true,
     "expires_at_ms": 1735689600000,   # optional, epoch ms
     "resource_matchers": [{"key": "service.name", "op": "eq", "value": "x"}],
     "span_matchers": [{"key": "duration_ms", "op": "gte", "value": "500"}],
     "action": "force_keep"}

Matcher keys resolve to: direct span/trace columns (operation_name,
service_name, duration_ms, status_code, span_kind, span_count,
max_duration_ms, has_error), else attributes[key] when an ``attributes`` map
column exists, else null (matches nothing, like an absent attribute).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.matchers import compile_all
from otel_tail_sampler_spark.operators.parser import TRACE_KEY

SPAN_FIELD_KEYS = {
    "operation_name",
    "service_name",
    "duration_ms",
    "status_code",
    "span_kind",
    "timestamp_ms",
}
TRACE_FIELD_KEYS = {
    "service_name",
    "span_count",
    "max_duration_ms",
    "has_error",
    "error_count",
}


def _value_cols(matchers: list[dict], field_keys: set[str], df: DataFrame) -> dict:
    out: dict[str, Column] = {}
    has_attrs = "attributes" in df.columns
    for m in matchers:
        k = m["key"]
        if k == "service.name":
            out[k] = F.col("service_name").cast("string")
        elif k in field_keys:
            out[k] = F.col(k).cast("string")
        elif not has_attrs:
            out[k] = F.lit(None).cast("string")
        # else: default attributes[key] lookup inside compile_matcher
    return out


def active_rules(rules: list[dict], now_ms: int | None = None) -> list[dict]:
    """enabled + unexpired, priority-descending (force_sampling.rs:519,632)."""
    out = [
        r
        for r in rules
        if r.get("enabled", True)
        and (
            now_ms is None
            or r.get("expires_at_ms") is None
            or r["expires_at_ms"] > now_ms
        )
    ]
    return sorted(out, key=lambda r: -r.get("priority", 0))


def span_flag_aggs(
    rules: list[dict], spans: DataFrame, over: WindowSpec | None = None
) -> list[Column]:
    """Per-trace existence flags ``_fr_span_{i}`` (max over the trace's
    spans of "this span matches ALL span matchers of rule i"), one per
    active rule that has span matchers; aggregates for a group on the
    trace key, or window aggregates ``over`` one."""
    out = []
    for i, r in enumerate(rules):
        if r.get("span_matchers"):
            cond = compile_all(
                r["span_matchers"],
                _value_cols(r["span_matchers"], SPAN_FIELD_KEYS, spans),
            )
            flag = F.max(cond.cast("int"))
            flag = flag if over is None else flag.over(over)
            out.append(flag.alias(f"_fr_span_{i}"))
    return out


def force_columns(rules: list[dict], traces: DataFrame) -> dict[str, Column]:
    """(force_keep, force_drop, force_rule_id) of active ``rules`` over a
    frame that carries the trace columns and span_flag_aggs' flags:
    priority-ordered, first match wins."""
    if not rules:
        return {
            "force_keep": F.lit(False),
            "force_drop": F.lit(False),
            "force_rule_id": F.lit(None).cast("string"),
        }
    action_expr = None
    rule_id_expr = None
    for i, r in enumerate(rules):
        cond = compile_all(
            r.get("resource_matchers", []),
            _value_cols(r.get("resource_matchers", []), TRACE_FIELD_KEYS, traces),
        )
        if r.get("span_matchers"):
            cond = cond & (F.coalesce(F.col(f"_fr_span_{i}"), F.lit(0)) == 1)
        action_expr = (
            F.when(cond, F.lit(r["action"]))
            if action_expr is None
            else action_expr.when(cond, F.lit(r["action"]))
        )
        rule_id_expr = (
            F.when(cond, F.lit(r["id"]))
            if rule_id_expr is None
            else rule_id_expr.when(cond, F.lit(r["id"]))
        )
    return {
        "force_keep": F.coalesce(action_expr == F.lit("force_keep"), F.lit(False)),
        "force_drop": F.coalesce(action_expr == F.lit("force_drop"), F.lit(False)),
        "force_rule_id": rule_id_expr,
    }


def apply_force_rules(
    traces: DataFrame,
    spans: DataFrame,
    rules: list[dict],
    now_ms: int | None = None,
) -> DataFrame:
    """traces + (force_keep, force_drop, force_rule_id) columns."""
    rules = active_rules(rules, now_ms)
    # per-trace existence flags for rules with span matchers (one agg total)
    flags = span_flag_aggs(rules, spans)
    if flags:
        traces = traces.join(spans.groupBy(*TRACE_KEY).agg(*flags), TRACE_KEY, "left")
    out = traces.withColumns(force_columns(rules, traces))
    return out.drop(*[c for c in out.columns if c.startswith("_fr_span_")])
