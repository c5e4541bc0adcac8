"""Sampling policies as vectorized column expressions over TraceSummary rows.

Re-expresses /root/reference/src/sampling/policies.rs — each policy is a pure
per-trace predicate, so the whole decision stage is narrow column algebra
(whole-stage-codegen'd by Catalyst; zero Python, zero shuffle):

* ErrorSamplingPolicy      (policies.rs:189-224)  -> D1
* LatencySamplingPolicy    (policies.rs:227-268)  -> D2
* CardinalitySamplingPolicy(policies.rs:271-318)  -> D3
* ConfigurablePolicy AST   (policies.rs:434-572)  -> D4 (compile_condition)
* combine_policy_decisions (policies.rs:574-628)  -> D5 (ANY/ALL/CONSENSUS/PRIORITY)
* always-sample-errors     (evaluator.rs:218-239) -> D6 short-circuit
* rate-limit-per-key       (state.rs:629-682 token bucket, batch analog) -> D8

The reference's ``fastrand::f64() < rate`` is replaced by deterministic
hash-sampling (functions.hashing) so per-sink counts are reproducible and
DuckDB-oracle-checkable.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.hashing import hash_frac, hash_key
from otel_tail_sampler_spark.functions.ranking import top_per_key

KEEP, DROP, OVERFLOW, MALFORMED = "keep", "drop", "overflow", "malformed"


# --- policy configs ----------------------------------------------------------


@dataclass(frozen=True)
class ErrorPolicy:
    """Keep error traces at ``sample_rate`` (policies.rs:189-224)."""

    name: ClassVar[str] = "error_sampling"
    sample_rate: float = 1.0

    def keep_expr(self) -> Column:
        return F.col("has_error") & (
            hash_frac("trace_id", f"{self.name}") < F.lit(self.sample_rate)
        )


@dataclass(frozen=True)
class LatencyPolicy:
    """Keep slow traces (max_duration_ms > threshold) at rate (policies.rs:227-268)."""

    name: ClassVar[str] = "latency_sampling"
    threshold_ms: int = 1000
    sample_rate: float = 1.0

    def keep_expr(self) -> Column:
        return (F.col("max_duration_ms") > F.lit(self.threshold_ms)) & (
            hash_frac("trace_id", f"{self.name}") < F.lit(self.sample_rate)
        )


@dataclass(frozen=True)
class CardinalityPolicy:
    """Keep traces with span_count > max_span_count (policies.rs:271-318)."""

    name: ClassVar[str] = "cardinality_sampling"
    max_span_count: int = 100

    def keep_expr(self) -> Column:
        return F.col("span_count") > F.lit(self.max_span_count)


@dataclass(frozen=True)
class ProbabilisticPolicy:
    """Baseline hash-sampling: keep ``sample_rate`` of ALL traces."""

    name: ClassVar[str] = "probabilistic_sampling"
    sample_rate: float = 0.1

    def keep_expr(self) -> Column:
        return hash_frac("trace_id", f"{self.name}") < F.lit(self.sample_rate)


# --- configurable condition AST (D4, policies.rs:434-572) --------------------

_MATCH_OPS = {
    "exact": lambda c, v: c == F.lit(v),
    "prefix": lambda c, v: c.startswith(v),
    "suffix": lambda c, v: c.endswith(v),
    "regex": lambda c, v: c.rlike(v),
    "contains": lambda c, v: c.contains(v),
}


def compile_condition(cond: dict) -> Column:
    """Recursively compile a condition dict to a boolean Column.

    Mirrors SamplingCondition (policies.rs:434-485) + evaluate_condition
    (policies.rs:543-572). Shapes:
      {"type":"error"} | {"type":"latency","threshold_ms":N}
      {"type":"duration_range","min_ms":N,"max_ms":N}
      {"type":"service","match":"exact|prefix|suffix|regex|contains","value":s}
      {"type":"operation","match":...,"value":s}   (ANY operation matches)
      {"type":"cardinality","min_spans":N,"max_spans":N}
      {"type":"and|or","conditions":[...]} | {"type":"not","condition":{...}}
    """
    t = cond["type"]
    if t == "error":
        return F.col("has_error")
    if t == "latency":
        return F.col("max_duration_ms") > F.lit(cond["threshold_ms"])
    if t == "duration_range":
        c = F.lit(True)
        if "min_ms" in cond:
            c = c & (F.col("max_duration_ms") >= F.lit(cond["min_ms"]))
        if "max_ms" in cond:
            c = c & (F.col("max_duration_ms") <= F.lit(cond["max_ms"]))
        return c
    if t == "service":
        return _MATCH_OPS[cond.get("match", "exact")](
            F.col("service_name"), cond["value"]
        )
    if t == "operation":
        op = cond.get("match", "exact")
        val = cond["value"]
        return F.exists(
            F.col("operations"), lambda x: _MATCH_OPS[op](x, val)
        )
    if t == "cardinality":
        c = F.lit(True)
        if "min_spans" in cond:
            c = c & (F.col("span_count") >= F.lit(cond["min_spans"]))
        if "max_spans" in cond:
            c = c & (F.col("span_count") <= F.lit(cond["max_spans"]))
        return c
    if t == "and":
        out = F.lit(True)
        for sub in cond["conditions"]:
            out = out & compile_condition(sub)
        return out
    if t == "or":
        out = F.lit(False)
        for sub in cond["conditions"]:
            out = out | compile_condition(sub)
        return out
    if t == "not":
        return ~compile_condition(cond["condition"])
    raise ValueError(f"unknown condition type: {t}")


@dataclass(frozen=True)
class ConfigurablePolicy:
    """ANY condition match => sample at rate (policies.rs:497-541)."""

    name: str
    conditions: tuple = ()
    sample_rate: float = 1.0

    def keep_expr(self) -> Column:
        matched = F.lit(False)
        for cond in self.conditions:
            matched = matched | compile_condition(cond)
        return matched & (
            hash_frac("trace_id", f"{self.name}") < F.lit(self.sample_rate)
        )


# --- combination strategies (D5, policies.rs:574-628) ------------------------


def combine(policy_cols: list[tuple[str, Column]], strategy: str,
            consensus_threshold: float = 0.5) -> tuple[Column, Column]:
    """(keep?, winning_policy_name) under the given combination strategy.

    any_match:  keep iff any policy keeps (winner = first keeping policy)
    all_match:  keep iff all policies keep
    consensus:  keep iff keep_count/total >= threshold
    priority:   first policy's decision wins... the reference's Priority takes
                the first Keep in list order, falling back to Drop
                (policies.rs:612-627) — identical to any_match for the keep
                set, differing only in attribution; we keep both names.
    """
    if not policy_cols:
        return F.lit(False), F.lit(None).cast("string")
    keeps = [c for _, c in policy_cols]
    if strategy in ("any_match", "priority"):
        keep = keeps[0]
        for c in keeps[1:]:
            keep = keep | c
    elif strategy == "all_match":
        keep = keeps[0]
        for c in keeps[1:]:
            keep = keep & c
    elif strategy == "consensus":
        total = float(len(keeps))
        cnt = sum(c.cast("int") for c in keeps)  # type: ignore[misc]
        keep = (cnt / F.lit(total)) >= F.lit(consensus_threshold)
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    winner = F.lit(None).cast("string")
    for name, c in reversed(policy_cols):
        winner = F.when(c, F.lit(name)).otherwise(winner)
    return keep, winner


# --- the decision stage -------------------------------------------------------


@dataclass(frozen=True)
class SamplerConfig:
    """Default operating point mirrors config/default.yaml (SURVEY.md §6)."""

    error: ErrorPolicy = field(default_factory=ErrorPolicy)
    latency: LatencyPolicy = field(
        default_factory=lambda: LatencyPolicy(threshold_ms=30_000)
    )
    cardinality: CardinalityPolicy = field(
        default_factory=lambda: CardinalityPolicy(max_span_count=100)
    )
    extra_policies: tuple = ()
    strategy: str = "any_match"
    consensus_threshold: float = 0.5
    always_sample_errors: bool = False
    # D8 rate-limit: keep at most N kept-traces per key (None = unlimited)
    rate_limit_key: str = "service_name"
    rate_limit_per_key: int | None = None

    def policies(self):
        return (self.error, self.latency, self.cardinality, *self.extra_policies)


def decide(traces: DataFrame, cfg: SamplerConfig) -> DataFrame:
    """TraceSummary -> + per-policy flags + (decision, decision_policy).

    Decision precedence (evaluator.rs:197-296, SURVEY.md §7.4.3):
      malformed > force_drop > force_keep > always-sample-errors (D6) >
      combined policies.
    Rows run per trace (assembled summaries) or per span (the one-pass
    route, where every span row carries its trace's summary). Optional
    columns: absent force columns are treated as false (operators.force_rules
    adds them); absent ``parse_ok`` as true — a row with parse_ok=false
    (a span the parser rejected) decides ('malformed', 'parse_error').
    Every pair the result can hold is listed by :func:`decision_labels`.
    """
    policy_cols = [(p.name, p.keep_expr()) for p in cfg.policies()]
    out = traces
    for name, expr in policy_cols:
        out = out.withColumn(f"p_{name}", expr)
    named = [(n, F.col(f"p_{n}")) for n, _ in policy_cols]
    keep, winner = combine(named, cfg.strategy, cfg.consensus_threshold)

    have = set(out.columns)
    bad = ~F.col("parse_ok") if "parse_ok" in have else F.lit(False)
    force_drop = F.col("force_drop") if "force_drop" in have else F.lit(False)
    force_keep = F.col("force_keep") if "force_keep" in have else F.lit(False)

    decision = (
        F.when(bad, F.lit(MALFORMED))
        .when(force_drop, F.lit(DROP))
        .when(force_keep, F.lit(KEEP))
        .when(
            F.lit(cfg.always_sample_errors) & F.col("has_error"), F.lit(KEEP)
        )
        .when(keep, F.lit(KEEP))
        .otherwise(F.lit(DROP))
    )
    policy = (
        F.when(bad, F.lit("parse_error"))
        .when(force_drop, F.lit("force_drop"))
        .when(force_keep, F.lit("force_keep"))
        .when(
            F.lit(cfg.always_sample_errors) & F.col("has_error"),
            F.lit("error_short_circuit"),
        )
        .when(keep, winner)
        .otherwise(F.lit("no_policy_matched"))
    )
    out = out.withColumn("decision", decision).withColumn("decision_policy", policy)

    if cfg.rate_limit_per_key is not None:
        out = apply_rate_limit(
            out, cfg.rate_limit_key, cfg.rate_limit_per_key
        )
    return out


def decision_labels(cfg: SamplerConfig) -> list[tuple[str, str]]:
    """Every (decision_policy, decision) pair :func:`decide` can give a
    parsed trace under ``cfg``, in a fixed order: the per-pair trace
    counts of the sink write (plans.pipeline) are one counter per pair.
    A keep that combine() attributes to no policy (a consensus threshold
    of 0 or below) has no pair here, so the counts then fall short of
    the trace count and the job raises."""
    pairs = [("force_drop", DROP), ("force_keep", KEEP)]
    if cfg.always_sample_errors:
        pairs.append(("error_short_circuit", KEEP))
    pairs += [(p.name, KEEP) for p in cfg.policies()]
    pairs.append(("no_policy_matched", DROP))
    if cfg.rate_limit_per_key is not None:
        pairs.append(("rate_limit", OVERFLOW))
    return list(dict.fromkeys(pairs))


def apply_rate_limit(decided: DataFrame, key: str, limit: int) -> DataFrame:
    """D8: among kept traces, keep at most ``limit`` per key; excess ->
    decision='overflow'. Deterministic uniform selection: the ``limit``
    smallest md5(trace_id||'rate_limit') per key survive (md5-hex ordering,
    not xxhash64, keeps the selection engine-portable).

    Batch analog of the reference's token bucket (state.rs:629-682), as
    ``functions.ranking.top_per_key``'s two-level limit (no single task
    ever sees a whole hot key). Ranks are ``dense_rank`` over (md5,
    trace_id): every row of one trace gets that trace's rank, so the
    limit applies unchanged to per-span rows (the one-pass route) and,
    on one-row-per-trace frames, equals a row number.
    """
    order = [hash_key("trace_id", "rate_limit"), F.col("trace_id")]
    kept = decided.filter(F.col("decision") == KEEP)
    others = decided.filter(F.col("decision") != KEEP)
    top, rest = top_per_key(kept, key, order, limit, F.dense_rank)
    overflow = rest().withColumns(
        {"decision": F.lit(OVERFLOW), "decision_policy": F.lit("rate_limit")}
    )
    return top.unionByName(overflow).unionByName(others)
