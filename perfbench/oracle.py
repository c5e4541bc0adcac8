"""Independent expected outputs for one generated dataset, and the checks.

The expectations come from the generator's ``spans_oracle.parquet``, which is
written straight from the generated fields and never goes through the token
encoding, the parser or Spark. The sampling policies are re-derived here
with pandas and ``hashlib``; only their parameters are read from the sampler
config. Every check returns a count of outputs that differ (0 = correct).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TWO_32 = 4294967296.0
NO_POLICY = "no_policy_matched"


def _hash_frac(key: str, seed: str) -> float:
    return int(hashlib.md5(f"{key}|{seed}".encode()).hexdigest()[:8], 16) / TWO_32


@dataclass
class Expected:
    n_spans: int
    n_traces: int
    decisions: pd.DataFrame  # index trace_id -> decision, decision_policy
    sink_rows: dict[str, int]  # sink -> routed span rows (non-empty sinks)
    policy_counts: dict[tuple[str, str], int]  # (policy, decision) -> traces
    kept_doc_ids: pa.Array  # sorted doc_ids of the kept span rows
    kept_tokens: pa.ListArray  # their input token arrays, same order
    max_ts_ms: pd.Series  # per trace_id: last span timestamp


def expected_outputs(oracle_path: str, tokenized_dir: str, cfg) -> Expected:
    spans = pq.read_table(
        oracle_path,
        columns=["doc_id", "trace_id", "timestamp_ms", "duration_ms", "status_code"],
    ).to_pandas()
    traces = spans.groupby("trace_id").agg(
        span_count=("doc_id", "size"),
        has_error=("status_code", lambda s: bool((s == 2).any())),
        max_duration_ms=("duration_ms", "max"),
        max_ts_ms=("timestamp_ms", "max"),
    )
    ids = traces.index.to_numpy()
    err, lat, card = cfg.error, cfg.latency, cfg.cardinality
    keeps = [
        (err.name, traces["has_error"].to_numpy()
         & (np.array([_hash_frac(t, err.name) for t in ids]) < err.sample_rate)),
        (lat.name, (traces["max_duration_ms"].to_numpy() > lat.threshold_ms)
         & (np.array([_hash_frac(t, lat.name) for t in ids]) < lat.sample_rate)),
        (card.name, traces["span_count"].to_numpy() > card.max_span_count),
    ]
    # any_match: the first keeping policy in config order is the winner
    policy = np.full(len(ids), NO_POLICY, dtype=object)
    for name, keep in reversed(keeps):
        policy[keep] = name
    decision = np.where(policy == NO_POLICY, "drop", "keep")
    decisions = pd.DataFrame(
        {"decision": decision, "decision_policy": policy}, index=traces.index
    )

    kept_rows = spans["trace_id"].map(decisions["decision"]) == "keep"
    sink_rows = {"keep": int(kept_rows.sum()), "drop": int((~kept_rows).sum())}
    policy_counts = {
        (p, d): int(c)
        for (p, d), c in decisions.groupby(["decision_policy", "decision"]).size().items()
    }

    kept_ids = pa.array(np.sort(spans.loc[kept_rows, "doc_id"].to_numpy()), pa.string())
    inputs = pq.read_table(tokenized_dir, columns=["doc_id", "tokens"])
    inputs = inputs.filter(pc.is_in(inputs["doc_id"], value_set=kept_ids))
    inputs = inputs.sort_by("doc_id")
    return Expected(
        n_spans=len(spans),
        n_traces=len(traces),
        decisions=decisions,
        sink_rows={k: v for k, v in sink_rows.items() if v > 0},
        policy_counts=policy_counts,
        kept_doc_ids=kept_ids,
        kept_tokens=inputs["tokens"].combine_chunks(),
        max_ts_ms=traces["max_ts_ms"],
    )


def _dict_mismatches(got: dict, want: dict) -> int:
    return sum(got.get(k) != want.get(k) for k in set(got) | set(want))


def _token_mismatches(routed_keep: pa.Table, exp: Expected) -> int:
    """Routed keep rows vs the input rows of the oracle's kept spans, by doc_id:
    missing or extra doc_ids plus rows whose token array differs."""
    got = routed_keep.sort_by("doc_id")
    got_ids = got["doc_id"].combine_chunks()
    if len(got_ids) != len(exp.kept_doc_ids) or not got_ids.equals(exp.kept_doc_ids):
        got_set = set(got_ids.to_pylist())
        want_set = set(exp.kept_doc_ids.to_pylist())
        return len(got_set ^ want_set) + max(0, len(got_ids) - len(got_set))
    a = got["tokens"].combine_chunks()
    b = exp.kept_tokens
    len_a = pc.list_value_length(a).to_numpy(zero_copy_only=False)
    len_b = pc.list_value_length(b).to_numpy(zero_copy_only=False)
    bad = len_a != len_b
    if not bad.any():
        va = pc.list_flatten(a).to_numpy()
        vb = pc.list_flatten(b).to_numpy()
        diff = va != vb
        if diff.any():
            row = np.repeat(np.arange(len(len_a)), len_a)
            bad = np.zeros(len(len_a), bool)
            bad[row[diff]] = True
    return int(bad.sum())


def check_batch_outputs(out_dir: str, exp: Expected) -> int:
    """Sinks, metric tables and exported manifest written by run_and_write."""
    routed_dir = os.path.join(out_dir, "routed")
    sinks = sorted(d for d in os.listdir(routed_dir) if d.startswith("decision="))
    tables = {d.split("=", 1)[1]: pq.read_table(os.path.join(routed_dir, d),
                                              columns=["doc_id", "tokens"])
              for d in sinks}
    bad = _dict_mismatches({s: t.num_rows for s, t in tables.items()}, exp.sink_rows)
    bad += _token_mismatches(
        tables.get("keep", pa.table({"doc_id": pa.array([], pa.string()),
                                     "tokens": pa.array([], pa.list_(pa.int32()))})),
        exp,
    )

    rows = pq.read_table(os.path.join(out_dir, "metrics_rows"),
                         columns=["sink", "row_count"]).to_pylist()
    bad += _dict_mismatches({r["sink"]: r["row_count"] for r in rows}, exp.sink_rows)

    dm = pq.read_table(os.path.join(out_dir, "metrics_decisions"),
                       columns=["decision_policy", "sink", "trace_count"]).to_pylist()
    bad += _dict_mismatches(
        {(r["decision_policy"], r["sink"]): r["trace_count"] for r in dm}, exp.policy_counts
    )

    run = {r["metric"]: r["value"] for r in
           pq.read_table(os.path.join(out_dir, "metrics_run"),
                         columns=["metric", "value"]).to_pylist()}
    bad += (run.get("input_rows") != exp.n_spans) + (run.get("traces") != exp.n_traces)

    exported = set(pq.read_table(os.path.join(out_dir, "exported"), columns=["trace_id"])
                   .column("trace_id").to_pylist())
    want = set(exp.decisions.index[exp.decisions["decision"] == "keep"])
    bad += len(exported ^ want)
    return bad


def check_stream_outputs(
    out_dir: str, exp: Expected, gap_ms: int, watermark_delay_ms: int
) -> tuple[int, int]:
    """(mismatches, traces emitted) for run_streaming_pipeline's decided/.

    Every emitted decision must equal the oracle's for its trace, each trace
    is emitted once, and exactly the traces the final watermark closed are
    emitted: those whose last span is more than ``gap_ms`` older than the
    watermark (newest event time minus the delay)."""
    got = pq.read_table(os.path.join(out_dir, "decided"),
                        columns=["trace_id", "decision", "decision_policy"]).to_pandas()
    bad = int(got["trace_id"].duplicated().sum())
    got = got.drop_duplicates("trace_id").set_index("trace_id")
    want = exp.decisions.reindex(got.index)
    bad += int(((got["decision"] != want["decision"])
                | (got["decision_policy"] != want["decision_policy"])).sum())
    watermark = int(exp.max_ts_ms.max()) - watermark_delay_ms
    closed = set(exp.max_ts_ms.index[exp.max_ts_ms + gap_ms < watermark])
    bad += len(closed ^ set(got.index))
    return bad, len(got)
