"""The one-pass route against the assembled decisions and the pandas oracle.

``run_pipeline(...).decided`` decides once per assembled trace; the route
(``routed``, and everything ``run_and_write`` writes and counts) decides on
every span row from window aggregates over its trace. The two must agree
on every trace under every decision feature, and a malformed row must not
leak into a real trace's window even when its junk key slots equal that
trace's key.
"""

from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from otel_tail_sampler_spark import SPAN_SERVICES
from otel_tail_sampler_spark.operators.routing import decision_metrics
from otel_tail_sampler_spark.plans.pipeline import run_and_write, run_pipeline
from otel_tail_sampler_spark.sources.generator import HDR, GenSpec, generate_dataset

from tests import oracle_pandas as O

FORCE_RULE = {
    "id": "slow-svc",
    "priority": 10,
    "resource_matchers": [
        {"key": "service.name", "op": "eq", "value": SPAN_SERVICES[1]}
    ],
    "span_matchers": [{"key": "duration_ms", "op": "gte", "value": "300"}],
    "action": "force_keep",
}

CASES = {
    "entry": (E.ENTRY_CFG, None, "error_sampling"),
    "force_rule": (E.ENTRY_CFG, [FORCE_RULE], "force_keep"),
    "rate_limit": (replace(E.ENTRY_CFG, rate_limit_per_key=5), None, "rate_limit"),
    "always_errors": (
        replace(E.ENTRY_CFG, always_sample_errors=True), None, "error_short_circuit"
    ),
}


def _key(tokens) -> tuple[int, int]:
    w = np.asarray(tokens[:4], np.int32).astype(np.uint32).astype(np.uint64)
    k1 = int(((w[0] << np.uint64(32)) | w[1]).astype(np.int64))
    k2 = int(((w[2] << np.uint64(32)) | w[3]).astype(np.int64))
    return k1, k2


@pytest.fixture(scope="module")
def planted(spark, small_dataset, tmp_path_factory):
    """small_dataset plus one malformed row (a non-ASCII service name)
    that copies a default-drop trace's span, key slots included, with a
    duration far past the latency threshold and the smallest doc_id: in
    that trace's window it would flip the trace to a latency keep and
    become its marked row. Returns (input path, planted trace key)."""
    src = pq.read_table(small_dataset["tokenized"]).to_pandas()
    decided = run_pipeline(spark, small_dataset["tokenized"], E.ENTRY_CFG).decided
    drop = (
        decided.filter(F.col("decision_policy") == "no_policy_matched")
        .orderBy("trace_id")
        .select("trace_k1", "trace_k2")
        .first()
    )
    key = (drop["trace_k1"], drop["trace_k2"])
    victim = next(t for t in src["tokens"] if _key(t) == key)
    bad = np.array(victim, np.int32)
    bad[10], bad[11] = 0, 9_000_000  # duration_ms slots: 2.5 h
    assert bad[HDR] > 0
    bad[HDR + 1] = 300  # first service-name code point: not ASCII
    row = pd.DataFrame(
        {"doc_id": ["0-planted"], "tokens": [bad], "n_tok": [len(bad)], "source": ["x"]}
    )
    out = tmp_path_factory.mktemp("planted") / "tokenized.parquet"
    schema = pa.schema(
        [("doc_id", pa.string()), ("tokens", pa.list_(pa.int32())),
         ("n_tok", pa.int32()), ("source", pa.string())]
    )
    pq.write_table(
        pa.Table.from_pandas(pd.concat([src, row], ignore_index=True), schema,
                             preserve_index=False),
        str(out),
    )
    return str(out), key


@pytest.mark.parametrize("case", sorted(CASES))
def test_route_matches_assembled_decisions(spark, planted, tmp_path, case):
    """Every routed row carries its trace's (decision, decision_policy)
    from ``decided``; the written per-(policy, decision) counts and
    ``traces`` equal decision_metrics(decided); the planted malformed row
    routes to malformed with a null trace_id and leaves its trace's
    decision and counts as they are without it."""
    cfg, rules, feature = CASES[case]
    src, key = planted
    res = run_pipeline(spark, src, cfg, force_rules=rules)
    want = {
        (r["trace_k1"], r["trace_k2"]): (r["decision"], r["decision_policy"])
        for r in res.decided.select(
            "trace_k1", "trace_k2", "decision", "decision_policy"
        ).collect()
    }
    assert want[key] == ("drop", "no_policy_matched")
    assert feature in {p for _, p in want.values()}, feature

    routed = res.routed.select(
        "trace_k1", "trace_k2", "doc_id", "parse_ok", "trace_id", "decision",
        "decision_policy",
    ).collect()
    assert len(routed) == len(pq.read_table(src))
    for r in routed:
        if not r["parse_ok"]:
            assert r["doc_id"] == "0-planted"
            assert (r["decision"], r["decision_policy"]) == ("malformed", "parse_error")
            assert r["trace_id"] is None
            continue
        got = (r["decision"], r["decision_policy"])
        assert got == want[(r["trace_k1"], r["trace_k2"])], r
        assert (r["trace_id"] is None) == (got == ("drop", "no_policy_matched"))

    out = tmp_path / "out"
    run_and_write(spark, src, str(out), cfg, force_rules=rules)
    metrics = {
        (r["decision_policy"], r["sink"]): r["trace_count"]
        for r in pq.read_table(str(out / "metrics_decisions")).to_pylist()
    }
    expect = {
        (r["decision_policy"], r["sink"]): r["trace_count"]
        for r in decision_metrics(res.decided).collect()
    }
    assert metrics == expect
    run = {r["metric"]: r["value"] for r in pq.read_table(str(out / "metrics_run")).to_pylist()}
    assert run["traces"] == len(want)
    assert run["routed_malformed"] == 1
    exported = set(pq.read_table(str(out / "exported")).column("trace_id").to_pylist())
    assert exported == {
        r["trace_id"] for r in res.decided.filter(F.col("decision") == "keep").collect()
    }


def _one_heavy_trace_seed(n_traces: int, frac: float) -> int:
    """The first seed whose generator draw marks exactly one trace heavy
    (the generator's first draw is the heavy mask)."""
    for seed in range(1000):
        rng = np.random.Generator(np.random.PCG64(seed))
        if int((rng.random(n_traces) < frac).sum()) == 1:
            return seed
    raise AssertionError("no seed with one heavy trace")


def test_heavy_trace_routes_whole(spark, tmp_path):
    """One trace of 20,000 spans, past the 4,096 rows Spark's window keeps
    in memory, so its window runs the external-buffer path: sink counts
    and the kept rows' token arrays equal the pandas oracle's."""
    spec = GenSpec(
        n_traces=40, heavy_frac=0.025, heavy_spans=20_000, slow_rate=0.2,
        seed=_one_heavy_trace_seed(40, 0.025),
    )
    paths = generate_dataset(spec, str(tmp_path / "data"))
    spans = pd.read_parquet(paths["oracle"])
    assert spans.groupby("trace_id").size().max() == 20_000
    decided = O.decide(
        O.assemble(spans), error_rate=0.8, latency_threshold_ms=4000,
        latency_rate=1.0, max_span_count=100,
    )
    assert "cardinality_sampling" in set(decided["decision_policy"])

    out = tmp_path / "out"
    m = run_and_write(spark, paths["tokenized"], str(out), E.ENTRY_CFG)
    rows = {r["sink"]: r["row_count"] for r in m["row_metrics"].collect()}
    assert rows == O.sink_counts(spans, decided)
    run = {r["metric"]: r["value"] for r in m["run_metrics"].collect()}
    assert run["traces"] == len(decided)

    kept_ids = set(decided.loc[decided["decision"] == "keep", "trace_id"])
    want = spans.loc[spans["trace_id"].isin(kept_ids), "doc_id"]
    keep = pq.read_table(str(out / "routed" / "decision=keep"),
                         columns=["doc_id", "tokens"]).to_pandas()
    assert set(keep["doc_id"]) == set(want) and len(keep) == len(want)
    src = pd.read_parquet(paths["tokenized"], columns=["doc_id", "tokens"])
    merged = keep.merge(src, on="doc_id", suffixes=("", "_src"))
    assert len(merged) == len(keep)
    assert all(
        np.array_equal(a, b) for a, b in zip(merged["tokens"], merged["tokens_src"])
    )


def test_expired_force_rule_does_not_apply(spark, small_dataset, tmp_path):
    """A force rule past its ``expires_at_ms`` applies nowhere (the
    reference drops expired rules, force_sampling.rs:519,632): with a
    force_drop rule that matches every trace and expired long ago, the
    sinks and metric tables equal a run with no rules, and the assembled
    decisions carry no force_drop."""
    rule = {
        "id": "expired-drop-all",
        "priority": 100,
        "expires_at_ms": 1,
        "resource_matchers": [],
        "span_matchers": [],
        "action": "force_drop",
    }
    src = small_dataset["tokenized"]

    def written(out, rules):
        run_and_write(spark, src, str(out), E.ENTRY_CFG, force_rules=rules)
        sinks = pd.read_parquet(out / "routed", columns=["doc_id", "decision"])
        run = pq.read_table(str(out / "metrics_run")).to_pylist()
        return (
            sorted(zip(sinks["doc_id"], sinks["decision"].astype(str))),
            sorted(map(str, pq.read_table(str(out / "metrics_decisions")).to_pylist())),
            sorted(map(str, pq.read_table(str(out / "metrics_rows")).to_pylist())),
            sorted(
                (r["metric"], r["value"]) for r in run
                if r["metric"] not in ("wall_ms", "finished_at_ms")
            ),
        )

    assert written(tmp_path / "expired", [rule]) == written(tmp_path / "none", None)
    policies = {
        r["decision_policy"]
        for r in run_pipeline(spark, src, E.ENTRY_CFG, force_rules=[rule])
        .decided.select("decision_policy").distinct().collect()
    }
    assert "force_drop" not in policies
