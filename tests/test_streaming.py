"""Streaming pipeline: session-window assembly == inactivity-timeout semantics.

Verifies that the bounded streaming run (Trigger.AvailableNow) emits exactly
the traces whose sessions the final watermark closed, with summaries equal to
the batch assembly for those traces, and keep/drop decisions matching the
batch decide().
"""

import os

import pandas as pd
import pytest

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
)
from otel_tail_sampler_spark.sources.generator import GenSpec, generate_dataset
from otel_tail_sampler_spark.streaming.stream_job import run_streaming_pipeline

from tests import oracle_pandas as O

CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
)

GAP_S = 30
DELAY_S = 10


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    data_dir = tmp_path_factory.mktemp("stream_in")
    out_dir = str(tmp_path_factory.mktemp("stream_out"))
    paths = generate_dataset(
        GenSpec(n_traces=300, spans_per_trace=5, error_rate=0.2, seed=11),
        str(data_dir),
    )
    run_streaming_pipeline(
        spark,
        paths["tokenized"],
        out_dir,
        CFG,
        gap_seconds=GAP_S,
        watermark_delay=f"{DELAY_S} seconds",
        max_files_per_trigger=3,
    )
    emitted = pd.read_parquet(os.path.join(out_dir, "decided"))
    oracle_spans = pd.read_parquet(paths["oracle"])
    return emitted, oracle_spans


def test_emitted_set_is_watermark_closed_sessions(stream_result):
    emitted, spans = stream_result
    # expected: sessions whose (last span ts + gap) <= final watermark
    per_trace = spans.groupby("trace_id")["timestamp_ms"].agg(["min", "max"])
    final_wm = spans["timestamp_ms"].max() - DELAY_S * 1000
    closed = set(per_trace[per_trace["max"] + GAP_S * 1000 <= final_wm].index)
    got = set(emitted["trace_id"])
    assert got == closed
    assert len(got) > 0


def test_emitted_summaries_match_batch_assembly(stream_result):
    emitted, spans = stream_result
    want = O.assemble(spans).set_index("trace_id")
    for _, row in emitted.sample(min(50, len(emitted)), random_state=0).iterrows():
        w = want.loc[row["trace_id"]]
        assert row["span_count"] == w["span_count"]
        assert row["has_error"] == w["has_error"]
        assert row["max_duration_ms"] == w["max_duration_ms"]
        assert row["min_timestamp_ms"] == w["min_timestamp_ms"]
        assert sorted(row["operations"]) == w["operations"]
        assert row["root_span_id"] == w["root_span_id"]


def test_stream_decisions_match_batch_decide(stream_result):
    emitted, spans = stream_result
    decided_o = O.decide(
        O.assemble(spans),
        error_rate=0.8,
        latency_threshold_ms=4000,
        latency_rate=1.0,
        max_span_count=100,
    ).set_index("trace_id")
    for _, row in emitted.iterrows():
        assert row["decision"] == decided_o.loc[row["trace_id"], "decision"]


def test_no_duplicate_emissions(stream_result):
    emitted, _ = stream_result
    assert emitted["trace_id"].is_unique


@pytest.fixture(scope="module")
def state_stream_result(spark, tmp_path_factory):
    """Same bounded run driven by the applyInPandasWithState strategy."""
    data_dir = tmp_path_factory.mktemp("state_stream_in")
    out_dir = str(tmp_path_factory.mktemp("state_stream_out"))
    paths = generate_dataset(
        GenSpec(n_traces=300, spans_per_trace=5, error_rate=0.2, seed=11),
        str(data_dir),
    )
    run_streaming_pipeline(
        spark,
        paths["tokenized"],
        out_dir,
        CFG,
        gap_seconds=GAP_S,
        watermark_delay=f"{DELAY_S} seconds",
        max_files_per_trigger=3,
        strategy="state",
    )
    emitted = pd.read_parquet(os.path.join(out_dir, "decided"))
    oracle_spans = pd.read_parquet(paths["oracle"])
    return emitted, oracle_spans


def test_state_emitted_set_bounded_by_watermark(state_stream_result):
    """Custom-state timeouts fire when the watermark passes last_ts + gap
    STRICTLY; the emitted set is bracketed by the strict and lenient closure
    sets (they differ only on exact-boundary ties)."""
    emitted, spans = state_stream_result
    per_trace = spans.groupby("trace_id")["timestamp_ms"].agg(["min", "max"])
    final_wm = spans["timestamp_ms"].max() - DELAY_S * 1000
    strict = set(per_trace[per_trace["max"] + GAP_S * 1000 < final_wm].index)
    lenient = set(per_trace[per_trace["max"] + GAP_S * 1000 <= final_wm].index)
    got = set(emitted["trace_id"])
    assert strict <= got <= lenient
    assert len(got) > 0
    assert emitted["trace_id"].is_unique


def test_state_summaries_match_batch_assembly(state_stream_result):
    emitted, spans = state_stream_result
    want = O.assemble(spans).set_index("trace_id")
    for _, row in emitted.sample(min(50, len(emitted)), random_state=0).iterrows():
        w = want.loc[row["trace_id"]]
        assert row["span_count"] == w["span_count"]
        assert row["has_error"] == w["has_error"]
        assert row["error_count"] == w["error_count"]
        assert row["max_duration_ms"] == w["max_duration_ms"]
        assert row["min_timestamp_ms"] == w["min_timestamp_ms"]
        assert row["max_timestamp_ms"] == w["max_timestamp_ms"]
        assert sorted(row["operations"]) == w["operations"]
        assert row["root_span_id"] == w["root_span_id"]
        assert row["service_name"] == w["service_name"]


def test_state_decisions_match_batch_decide(state_stream_result):
    emitted, spans = state_stream_result
    decided_o = O.decide(
        O.assemble(spans),
        error_rate=0.8,
        latency_threshold_ms=4000,
        latency_rate=1.0,
        max_span_count=100,
    ).set_index("trace_id")
    for _, row in emitted.iterrows():
        assert row["decision"] == decided_o.loc[row["trace_id"], "decision"]


def test_state_folds_traces_across_micro_batches(spark, tmp_path):
    """Each trace's 5 spans are spread over 24 s in shuffled order (the
    root is not always first), the span rows are sorted by timestamp into
    10 files and read one file per micro-batch, so most traces reach the
    state in one batch and fold more spans into it in later ones. Every
    field of every emitted summary equals the pandas oracle's over the
    whole trace. All timestamps are distinct: no (ts, span_id) ties."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.sources.generator import (
        BASE_EPOCH_MS,
        build_token_arrays,
        fields_to_oracle_table,
        generate_fields,
    )

    n_traces, per = 300, 5
    f = generate_fields(
        GenSpec(n_traces=n_traces, spans_per_trace=per, error_rate=0.2, seed=11)
    )
    rng = np.random.default_rng(3)
    slot = np.concatenate([rng.permutation(per) for _ in range(n_traces)])
    trace_row = np.repeat(np.arange(n_traces), per)
    f["timestamp_ms"] = BASE_EPOCH_MS + trace_row * 1_000 + slot * 6_007
    n = len(trace_row)
    doc_id = np.char.add("span-", np.char.zfill(np.arange(n).astype("U6"), 6))
    source = np.full(n, "x")
    order = np.argsort(f["timestamp_ms"], kind="stable")
    tok_dir = tmp_path / "tokenized"
    tok_dir.mkdir()
    file_of = np.empty(n, np.int64)
    for i, rows in enumerate(np.array_split(order, 10)):
        file_of[rows] = i
        tokens = build_token_arrays({k: v[rows] for k, v in f.items()})
        offs = tokens.offsets.to_numpy()
        pq.write_table(
            pa.table({
                "doc_id": pa.array(doc_id[rows], pa.string()),
                "tokens": tokens,
                "n_tok": pa.array((offs[1:] - offs[:-1]).astype(np.int32)),
                "source": pa.array(source[rows], pa.string()),
            }),
            str(tok_dir / f"part-{i:04d}.parquet"),
        )
        # the file source takes files in modification-time order: pin it,
        # or a later file read first would make earlier spans late
        os.utime(tok_dir / f"part-{i:04d}.parquet", (1_700_000_000 + i,) * 2)
    spans = fields_to_oracle_table(f, doc_id, source).to_pandas()
    assert spans["timestamp_ms"].is_unique
    spans["file"] = file_of

    out_dir = tmp_path / "out"
    run_streaming_pipeline(
        spark, str(tok_dir), str(out_dir), CFG, gap_seconds=GAP_S,
        watermark_delay=f"{DELAY_S} seconds", max_files_per_trigger=1,
        strategy="state",
    )
    emitted = pd.read_parquet(out_dir / "decided")
    assert emitted["trace_id"].is_unique

    per_trace = spans.groupby("trace_id").agg(
        last=("timestamp_ms", "max"), files=("file", "nunique")
    )
    final_wm = spans["timestamp_ms"].max() - DELAY_S * 1000
    closed = set(per_trace.index[per_trace["last"] + GAP_S * 1000 < final_wm])
    assert set(emitted["trace_id"]) == closed
    assert (per_trace.loc[list(closed), "files"] > 1).mean() > 0.5

    want = O.assemble(spans.drop(columns="file")).set_index("trace_id")
    fields = [
        "service_name", "span_count", "has_error", "error_count",
        "max_duration_ms", "min_timestamp_ms", "max_timestamp_ms",
        "operations", "root_span_id",
    ]
    for _, row in emitted.iterrows():
        w = want.loc[row["trace_id"]]
        got = {c: row[c] for c in fields}
        got["operations"] = list(got["operations"])
        assert got == {c: w[c] for c in fields}, row["trace_id"]


def test_state_step_matches_span_by_span_fold():
    """The bucket step (stream_job._step) against a scalar reference that
    folds spans one at a time in arrival order, over random micro-batches
    with many (ts, span_id) ties within and across batches: the held
    partials, their deadlines and the fired traces agree, and on a tie
    the first arrival stays the trace's first span and root."""
    import random

    import numpy as np

    from otel_tail_sampler_spark.streaming import stream_job as S

    gap = 1000
    for seed in range(60):
        rng = random.Random(seed)
        ref: dict = {}
        dl: dict = {}
        held, t, wm = S._EMPTY, 0, -1
        for _ in range(rng.randint(2, 7)):
            n = rng.randint(0, 12)
            batch = pd.DataFrame({
                "trace_k1": np.array([rng.choice([1, -2**63]) for _ in range(n)], np.int64),
                "trace_k2": np.array([rng.randint(0, 3) for _ in range(n)], np.int64),
                "span_id": [rng.choice("AB") for _ in range(n)],
                "parent_span_id": [rng.choice([None, "P"]) for _ in range(n)],
                "timestamp_ms": np.array([t + rng.randint(0, 2) for _ in range(n)], np.int64),
                "duration_ms": np.array([rng.randint(0, 9) for _ in range(n)], np.int64),
                "status_code": np.array([rng.choice([0, 2]) for _ in range(n)], np.int32),
                "service_name": [rng.choice(["97", "98,99"]) for _ in range(n)],
                "operation_name": [rng.choice(["111", "112", ""]) for _ in range(n)],
            })
            t += rng.choice([0, 1, 700, 1500])
            wm += rng.choice([0, 1, 700, 1500])
            touched = set()
            for r in batch.itertuples(index=False):
                k = (r.trace_k1, r.trace_k2)
                ts, sid = r.timestamp_ms, r.span_id
                root = (ts, sid) if r.parent_span_id is None else (S._NO_ROOT_TS, "")
                new = [1, int(r.status_code == 2), r.duration_ms, ts, ts,
                       (ts, sid), r.service_name, root, {r.operation_name}]
                o = ref.get(k)
                if o is None:
                    ref[k] = new
                else:
                    o[0] += 1
                    o[1] += new[1]
                    o[2], o[3], o[4] = max(o[2], new[2]), min(o[3], ts), max(o[4], ts)
                    if (ts, sid) < o[5]:
                        o[5], o[6] = (ts, sid), r.service_name
                    o[7] = min(o[7], root)
                    o[8] |= new[8]
                touched.add(k)
            for k in touched:
                dl[k] = max(ref[k][4] + gap, wm + 1)
            fired_ref = {k for k in ref if k not in touched and dl[k] < wm}

            held, fired = S._step(held, S._lift(batch), wm, gap)
            fired = fired.to_pydict()
            assert set(zip(fired["k1"], fired["k2"])) == fired_ref
            for k in fired_ref:
                del ref[k], dl[k]
            held = S._from_state(S._to_state(held))
            h = held.to_pydict()
            keys = list(zip(h["k1"], h["k2"]))
            assert len(set(keys)) == len(keys), seed
            got = {
                k: [sc, ec, mx, mn, mxts, (fts, fsid), fsvc, (rts, rsid), set(ops)]
                for k, sc, ec, mx, mn, mxts, fts, fsid, fsvc, rts, rsid, ops in zip(
                    keys, h["sc"], h["ec"], h["mx"], h["mn"], h["mxts"], h["fts"],
                    h["fsid"], h["fsvc"], h["rts"], h["rsid"], h["ops"],
                )
            }
            assert got == ref, seed
            assert dict(zip(keys, h["dl"])) == dl, seed


def test_state_of_another_schema_raises():
    """Spark checks only the bucket state's binary field, so the Arrow
    stream inside it is checked on read: a stream whose schema drops or
    retypes one PARTIAL field raises a ValueError naming both schemas,
    instead of folding (or failing deep inside the fold) on it."""
    import pyarrow as pa

    from otel_tail_sampler_spark.streaming import stream_job as S

    i = S.PARTIAL.get_field_index("dl")
    for schema in (
        S.PARTIAL.remove(i),
        S.PARTIAL.set(i, pa.field("dl", pa.int32())),
    ):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, schema) as w:
            w.write_table(schema.empty_table())
        with pytest.raises(ValueError, match="PARTIAL") as e:
            S._from_state((sink.getvalue().to_pybytes(),))
        assert str(schema) in str(e.value) and str(S.PARTIAL) in str(e.value)
    assert S._from_state(S._to_state(S._EMPTY)).equals(S._EMPTY)


def test_streaming_routed_keep_export(spark, tmp_path_factory):
    """route_spans_from: every kept trace's spans land in routed_keep/ with
    token arrays verbatim (lake-as-span-buffer export), exactly once, and
    only for traces the stream decided keep."""
    data_dir = tmp_path_factory.mktemp("route_in")
    out_dir = str(tmp_path_factory.mktemp("route_out"))
    paths = generate_dataset(
        GenSpec(n_traces=200, spans_per_trace=5, error_rate=0.3, seed=13),
        str(data_dir),
    )
    run_streaming_pipeline(
        spark,
        paths["tokenized"],
        out_dir,
        CFG,
        gap_seconds=GAP_S,
        watermark_delay=f"{DELAY_S} seconds",
        max_files_per_trigger=3,
        route_spans_from=paths["tokenized"],
    )
    decided = pd.read_parquet(os.path.join(out_dir, "decided"))
    kept_traces = set(decided.loc[decided["decision"] == "keep", "trace_id"])
    routed = pd.read_parquet(os.path.join(out_dir, "routed_keep"))
    assert len(routed), "expected exported keep spans"
    assert not routed["doc_id"].duplicated().any(), "exactly-once per span row"

    src = pd.read_parquet(paths["tokenized"]).set_index("doc_id")
    oracle_spans = pd.read_parquet(paths["oracle"])
    want_docs = set(
        oracle_spans[oracle_spans["trace_id"].isin(kept_traces)]["doc_id"]
    )
    assert set(routed["doc_id"]) == want_docs
    merged = routed.set_index("doc_id").join(src, rsuffix="_src")
    assert all(
        list(a) == list(b) for a, b in zip(merged["tokens"], merged["tokens_src"])
    )


def _copy_in_order(files, to):
    """Copy generated files into a stream source with their modification
    times one second apart in name order. The file source takes files in
    modification-time order: copies that share one come in any order, and
    a later file read first would make earlier spans late."""
    import shutil

    for f in files:
        dst = shutil.copy(f, to)
        n = int(os.path.basename(f).split("-")[1].split(".")[0])
        os.utime(dst, (1_700_000_000 + n,) * 2)


def test_state_resume_at_another_bucket_count_raises(spark, tmp_path_factory):
    """The state strategy hashes traces into 2 x shuffle-partitions
    buckets. A resume under another partition count would re-bucket the
    state and emit traces split, so it must fail fast; a resume at the
    recorded count goes on and emits the traces and span counts of a
    one-shot run over the same files at that count."""
    import glob

    data_dir = tmp_path_factory.mktemp("rebucket_in")
    src = tmp_path_factory.mktemp("rebucket_src")
    once_src = tmp_path_factory.mktemp("rebucket_once_src")
    out_dir = str(tmp_path_factory.mktemp("rebucket_out"))
    once_dir = str(tmp_path_factory.mktemp("rebucket_once_out"))
    paths = generate_dataset(
        GenSpec(n_traces=300, spans_per_trace=5, error_rate=0.2, seed=11),
        str(data_dir),
    )
    files = sorted(glob.glob(f"{paths['tokenized']}/*.parquet"))
    assert len(files) >= 2

    def run(in_dir, out):
        run_streaming_pipeline(
            spark, str(in_dir), out, CFG, gap_seconds=GAP_S,
            watermark_delay=f"{DELAY_S} seconds", strategy="state",
        )

    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        _copy_in_order(files[: len(files) // 2], src)
        run(src, out_dir)
        _copy_in_order(files[len(files) // 2:], src)
        spark.conf.set(conf, "4")
        with pytest.raises(ValueError, match="n_buckets"):
            run(src, out_dir)
        spark.conf.set(conf, "2")
        run(src, out_dir)
        _copy_in_order(files, once_src)
        run(once_src, once_dir)
    finally:
        spark.conf.set(conf, saved)
    emitted = pd.read_parquet(os.path.join(out_dir, "decided"))
    once = pd.read_parquet(os.path.join(once_dir, "decided"))
    assert len(emitted) and emitted["trace_id"].is_unique
    got = emitted.set_index("trace_id")["span_count"].sort_index()
    want = once.set_index("trace_id")["span_count"].sort_index()
    pd.testing.assert_series_equal(got, want)


def test_stream_rate_limit_is_a_budget_per_micro_batch(spark, tmp_path_factory):
    """On the streaming leg ``rate_limit_per_key`` applies per micro-batch:
    each batch keeps its own top-1 trace per service (smallest
    md5(trace_id|rate_limit), then trace_id) and overflows the rest, so a
    service keeps a trace in every batch that emits one. The batch job
    ranks over its whole input instead and would keep one in all."""
    import dataclasses
    import glob
    import hashlib

    data_dir = tmp_path_factory.mktemp("rl_in")
    src = tmp_path_factory.mktemp("rl_src")
    out_dir = str(tmp_path_factory.mktemp("rl_out"))
    paths = generate_dataset(
        GenSpec(n_traces=300, spans_per_trace=5, error_rate=0.2, seed=11),
        str(data_dir),
    )
    _copy_in_order(sorted(glob.glob(f"{paths['tokenized']}/*.parquet")), src)
    run_streaming_pipeline(
        spark, str(src), out_dir, dataclasses.replace(CFG, rate_limit_per_key=1),
        gap_seconds=GAP_S, watermark_delay=f"{DELAY_S} seconds",
        max_files_per_trigger=2,
    )
    emitted = pd.read_parquet(os.path.join(out_dir, "decided"))
    passed = emitted[emitted["decision"].isin(["keep", "overflow"])].copy()
    passed["md5"] = [
        hashlib.md5(f"{t}|rate_limit".encode()).hexdigest() for t in passed["trace_id"]
    ]
    top1 = (
        passed.sort_values(["md5", "trace_id"])
        .groupby(["batch_id", "service_name"])["trace_id"].first()
    )
    kept = emitted[emitted["decision"] == "keep"]
    assert set(kept["trace_id"]) == set(top1)
    assert (emitted["decision"] == "overflow").any()
    per_service = kept.groupby("service_name")["batch_id"].nunique()
    assert (per_service > 1).any(), "expected a service kept in two batches"


def _write_in_order(batches, to):
    """Write each batch of (doc_id, text) rows as one parquet file of a
    stream source, with modification times one second apart in batch
    order (see _copy_in_order): read one file per trigger, the batches
    then arrive in this order."""
    for i, rows in enumerate(batches, 1):
        dst = os.path.join(to, f"f{i}.parquet")
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(dst, index=False)
        os.utime(dst, (1_700_000_000 + i,) * 2)


def _first_wins_by_row(held, batch, payload_cols):
    """Scalar reference of dedup_stream's bucket step: one pass over the
    rows in arrival order, a digest the state holds dropping, a new one's
    min id winning with its payload (a strictly smaller id replaces, so an
    exact tie keeps the first arrival). -> (state as {digest: first_id},
    emitted rows as (digest, doc_id, *payload, dup_count) tuples)."""
    known = dict(zip(*held))
    new: dict = {}
    cols = [batch[c] for c in ("digest", "doc_id", *payload_cols)]
    for d, *vals in zip(*cols):
        if d in known:
            continue
        cur = new.get(d)
        if cur is None:
            new[d] = [vals, 0]
        else:
            cur[1] += 1
            if vals[0] < cur[0][0]:
                cur[0] = vals
    known.update({d: vals[0] for d, (vals, _n) in new.items()})
    return known, {(d, *vals, n) for d, (vals, n) in new.items()}


def test_dedup_step_matches_row_by_row_loop():
    """The dedup bucket step (dedup_stream._step) against the scalar
    reference, on planted cases and random micro-batches with many
    repeated digests and equal ids, over long and string ids."""
    import random

    from otel_tail_sampler_spark.streaming.dedup_stream import _step

    def step(held, rows):
        batch = pd.DataFrame(rows, columns=["digest", "doc_id", "pay"])
        new, out = _step(held, batch)
        assert list(out.columns) == ["digest", "doc_id", "pay", "dup_count"]
        want_state, want_out = _first_wins_by_row(held, batch, ("pay",))
        assert dict(zip(*new)) == want_state
        assert set(out.itertuples(index=False, name=None)) == want_out
        return new, out

    # a held digest drops; same-batch duplicates count; long ids 2 and 10
    # elect 2; the payload rides the elected row
    held = (["h"], [1])
    held, out = step(held, [
        ("a", 10, "a10"), ("h", 0, "h0"), ("b", 3, "b3"), ("a", 2, "a2"),
        ("a", 11, "a11"),
    ])
    assert set(out.itertuples(index=False, name=None)) == {
        ("a", 2, "a2", 2), ("b", 3, "b3", 0)
    }
    assert held == (["h", "a", "b"], [1, 2, 3])
    # equal ids keep the first arrival
    _, out = step(held, [("c", 5, "first"), ("c", 5, "second")])
    assert out["pay"].tolist() == ["first"]
    # string ids order as strings: "10" < "2"
    _, out = step(([], []), [("s", "2", "x"), ("s", "10", "y")])
    assert out["doc_id"].tolist() == ["10"]
    # nothing new: no state update and no output
    new, out = step(held, [("a", 1, "a1"), ("h", 7, "h7")])
    assert new is held and out.empty

    for seed in range(60):
        rng = random.Random(seed)
        as_str = seed % 2 == 1
        held = ([], [])
        for _ in range(rng.randint(1, 5)):
            rows = []
            for j in range(rng.randint(0, 12)):
                i = rng.choice([2, 3, 10, 10, 21])
                d = rng.choice(["a", "b", "c", "d", None])
                rows.append((d, str(i) if as_str else i, f"p{j}"))
            held, _ = step(held, rows)


def test_dedup_stream_first_wins_across_batches(spark, tmp_path_factory):
    """Streaming exact-dedup: first arrival of a digest passes, later
    arrivals (across micro-batches) drop; same-batch ties elect min id."""
    from otel_tail_sampler_spark.streaming.dedup_stream import dedup_stream

    out_dir = str(tmp_path_factory.mktemp("dd_out"))
    stream_in = str(tmp_path_factory.mktemp("dd_stream"))
    _write_in_order(
        [
            # A (ids 2 and 10 — the pair a stringified min would order
            # wrong: "10" < "2" lexicographically), B (id 3)
            [(10, "alpha text"), (3, "beta text"), (2, "alpha text")],
            # a dup of A again (id 5) + new C (id 7)
            [(5, "alpha text"), (7, "gamma text")],
        ],
        stream_in,
    )

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_in)
    )
    q = (
        dedup_stream(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = pd.read_parquet(out_dir).sort_values("doc_id")
    # exactly one row per distinct text; A elected NUMERIC min id (2, not
    # "10") with its same-batch dup counted; cross-batch dups never re-emit
    assert sorted(out["doc_id"]) == [2, 3, 7]
    a = out[out["doc_id"] == 2].iloc[0]
    assert a["dup_count"] == 1


def test_kafka_value_decode_matches_file_source_schema(spark, small_dataset):
    """The Kafka branch's value decode (classpath-gated at the source level)
    is exercised on a batch frame shaped like Kafka's wire schema: JSON
    values map onto the file-source schema field-for-field, flow through
    the SAME parser, and a malformed payload decodes to NULLs that the
    parser routes to the malformed sink — consumer.rs:136-193's
    skip-on-decode-error."""
    import json

    from otel_tail_sampler_spark.operators.parser import parse_spans
    from otel_tail_sampler_spark.streaming.stream_job import decode_kafka_value

    rows = spark.read.parquet(small_dataset["tokenized"]).limit(5).collect()
    payloads = [
        json.dumps(
            {
                "doc_id": r["doc_id"],
                "tokens": list(r["tokens"]),
                "n_tok": r["n_tok"],
                "source": r["source"],
            }
        ).encode()
        for r in rows
    ] + [b"{not json"]
    wire = spark.createDataFrame(
        [
            (b"k", v, "spans", 0, i, None)
            for i, v in enumerate(payloads)
        ],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    decoded = decode_kafka_value(wire)
    assert decoded.columns == ["doc_id", "tokens", "n_tok", "source"]
    good = {r["doc_id"]: r for r in decoded.filter("doc_id IS NOT NULL").collect()}
    assert len(good) == 5
    for r in rows:
        assert list(good[r["doc_id"]]["tokens"]) == list(r["tokens"])
    # the malformed payload survives as an all-NULL row...
    assert decoded.filter("doc_id IS NULL").count() == 1
    # ...and the shared parser routes it to the malformed sink
    parsed = parse_spans(decoded, keep_tokens=False)
    assert parsed.filter("NOT parse_ok").count() == 1
    assert parsed.filter("parse_ok").count() == 5


def test_prep_stream_end_to_end_with_restart(spark, tmp_path_factory):
    """Streaming prep leg: gate -> tokenize -> cross-batch dedup ->
    checkpointed parquet sink. A restart over the same checkpoint
    processes only NEW files and re-emits nothing; tokens match the
    batch tokenizer exactly for every emitted doc."""
    import shutil
    import time

    from otel_tail_sampler_spark.operators.text import hash_tokenize
    from otel_tail_sampler_spark.streaming.prep_stream import run_prep_stream

    root = tmp_path_factory.mktemp("prep_stream")
    src = root / "docs_in"
    out = root / "out"
    src.mkdir()

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(str(root / name))
        for f in (root / name).glob("*.parquet"):
            shutil.copyfile(f, src / f"{name}.parquet")

    base = "the quick brown fox jumps over the lazy dog number"
    wave1 = [(i, f"{base} {i}", "en", "src0") for i in range(10)]
    wave1.append((100, "tiny", "en", "src0"))  # gated: < min_words
    write_wave("w1", wave1)

    q = run_prep_stream(spark, str(src), str(out), vocab_size=512)
    q.awaitTermination(120)
    got1 = spark.read.parquet(f"{out}/tokenized").toPandas()
    assert sorted(got1["doc_id"]) == list(range(10))  # tiny doc gated

    # wave 2: 5 duplicates of wave-1 texts (new ids) + 3 genuinely new
    wave2 = [(200 + i, f"{base} {i}", "en", "src1") for i in range(5)]
    wave2 += [(300 + i, f"{base} new {i}", "en", "src1") for i in range(3)]
    write_wave("w2", wave2)

    q2 = run_prep_stream(spark, str(src), str(out), vocab_size=512)
    q2.awaitTermination(120)
    time.sleep(1)
    got2 = spark.read.parquet(f"{out}/tokenized").toPandas()
    # duplicates dropped by cross-batch state; only the 3 new docs added
    assert sorted(got2["doc_id"]) == list(range(10)) + [300, 301, 302]

    # token parity vs the batch tokenizer for every emitted doc
    all_docs = spark.createDataFrame(
        wave1 + wave2, "doc_id long, text string, lang string, source string"
    )
    want = {
        r["doc_id"]: list(r["tokens"])
        for r in hash_tokenize(all_docs, vocab_size=512).collect()
    }
    for _, r in got2.iterrows():
        assert list(r["tokens"]) == want[r["doc_id"]], r["doc_id"]


def test_prep_stream_resume_at_another_bucket_count_raises(
    spark, tmp_path_factory
):
    """dedup_stream hashes digests into 2 x shuffle-partitions buckets.
    A run_prep_stream resume under another partition count would look a
    known digest up in another bucket's state row and emit it again, so
    it must fail fast; a resume at the recorded count emits each digest
    once."""
    import shutil

    from otel_tail_sampler_spark.streaming.prep_stream import run_prep_stream

    root = tmp_path_factory.mktemp("prep_rebucket")
    src = root / "docs_in"
    out = root / "out"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog number"

    def write_wave(name, ids):
        spark.createDataFrame(
            [(i, f"{base} {i % 40}", "en", "src0") for i in ids],
            "doc_id long, text string, lang string, source string",
        ).coalesce(1).write.mode("overwrite").parquet(str(root / name))
        for f in (root / name).glob("*.parquet"):
            shutil.copyfile(f, src / f"{name}.parquet")

    def run():
        run_prep_stream(spark, str(src), str(out), vocab_size=512).awaitTermination(120)

    conf = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        write_wave("w1", range(40))
        run()
        write_wave("w2", range(40, 80))  # the same 40 texts, new ids
        spark.conf.set(conf, "4")
        with pytest.raises(ValueError, match="n_buckets"):
            run()
        spark.conf.set(conf, "2")
        run()
    finally:
        spark.conf.set(conf, saved)
    got = spark.read.parquet(f"{out}/tokenized").toPandas()
    assert sorted(got["doc_id"]) == list(range(40))
    assert got["digest"].is_unique


def test_prep_stream_empty_source_with_explicit_schema(spark, tmp_path):
    """ADVICE r4: a streaming deployment can start BEFORE producers write
    the first file. With an explicit schema the empty source dir must
    start and drain cleanly (zero output, no throw); without one, the
    eager probe read is the documented failure."""
    import pytest

    from otel_tail_sampler_spark.streaming.prep_stream import run_prep_stream

    src = tmp_path / "empty_src"
    out = tmp_path / "out"
    src.mkdir()
    ddl = "doc_id long, text string, lang string, source string"
    q = run_prep_stream(
        spark, str(src), str(out), vocab_size=512, schema=ddl
    )
    q.awaitTermination(120)
    # file sink writes its manifest even for zero batches; tolerate a
    # missing dir, but any readable output must be empty
    try:
        n = spark.read.parquet(f"{out}/tokenized").count()
    except Exception:
        n = 0
    assert n == 0
    # the probe fallback on an empty dir throws (documented contract)
    with pytest.raises(Exception):
        run_prep_stream(spark, str(src), str(tmp_path / "out2"))


def test_prep_stream_dsir_gate_matches_batch_sample(spark, tmp_path_factory):
    """The streaming DSIR gate (offline model, online apply) keeps
    EXACTLY the batch dsir_sample keep set over the same gated input,
    and the kept rows carry ratio_fp through the dedup stage."""
    import shutil

    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
        dsir_sample,
    )
    from otel_tail_sampler_spark.operators.text import hash_tokenize
    from otel_tail_sampler_spark.streaming.prep_stream import run_prep_stream
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("prep_dsir")
    src = root / "docs_in"
    out = root / "out"
    src.mkdir()
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta"]
    rows = [
        (
            i,
            " ".join(words[(i + j) % len(words)] for j in range(8))
            + f" uniq{i}",
            "en",
            "tgt" if i % 4 == 0 else "raw",
        )
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(str(root / "w"))
    for f in (root / "w").glob("*.parquet"):
        shutil.copyfile(f, src / "w.parquet")

    # offline: model trained on the batch-tokenized view of the same data
    batch_toks = hash_tokenize(
        spark.read.parquet(str(src)), vocab_size=256,
        keep_cols=("source",),
    )
    model = build_dsir_model_partitioned(batch_toks, F.col("source") == "tgt")
    model = spark.createDataFrame(model.collect(), model.schema)  # pin

    q = run_prep_stream(
        spark, str(src), str(out), vocab_size=256,
        dsir_model=model, dsir_rate=0.7,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(f"{out}/tokenized").toPandas()

    # batch reference: same gate chain = tokenize -> dsir -> first-wins
    # dedup (all texts distinct here, so dedup is identity)
    want = {
        r["doc_id"]: r["ratio_fp"]
        for r in dsir_sample(batch_toks, model, rate=0.7).collect()
    }
    assert {int(d): int(r) for d, r in zip(got["doc_id"], got["ratio_fp"])} \
        == want
    assert 0 < len(got) < 40  # the gate actually bites both ways


def test_dedup_stream_against_standing_corpus(spark, tmp_path_factory):
    """ref_digests: texts the standing corpus already holds never emit
    (not even on first arrival) and never cost a state row; novel texts
    still dedup first-wins within the stream."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.streaming.dedup_stream import dedup_stream

    ref = spark.createDataFrame(
        [(1, "known alpha"), (2, "known beta")], "doc_id long, text string"
    )
    ref_digests = ref.select(F.md5("text").alias("digest"))
    stream_in = str(tmp_path_factory.mktemp("rd_stream"))
    out_dir = str(tmp_path_factory.mktemp("rd_out"))
    _write_in_order(
        [
            [(10, "known alpha"), (11, "novel gamma")],
            [(12, "novel gamma"), (13, "known beta"), (14, "novel delta")],
        ],
        stream_in,
    )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_in)
    )
    q = (
        dedup_stream(src, ref_digests=ref_digests)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", out_dir + "_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = pd.read_parquet(out_dir)
    # known texts (10, 13) dropped by the static anti join; gamma emits
    # once (first arrival, id 11), delta emits
    assert sorted(out["doc_id"]) == [11, 14]


def test_prep_stream_against_standing_corpus(spark, tmp_path_factory):
    """run_prep_stream(ref_digests=...): re-crawled documents the
    standing corpus already holds never reach the output; the rest of
    the leg (gates, tokenize, within-stream dedup) is unchanged."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.streaming.prep_stream import (
        run_prep_stream,
    )

    docs_dir = str(tmp_path_factory.mktemp("ps_docs"))
    out_dir = str(tmp_path_factory.mktemp("ps_out"))
    rows = [
        (1, "the quick brown fox jumps over dogs", "s1"),
        (2, "an entirely different document body here", "s1"),
        (3, "the quick brown fox jumps over dogs", "s2"),  # in-stream dup
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.mode("overwrite").parquet(docs_dir)
    ref = spark.createDataFrame(
        [("the quick brown fox jumps over dogs",)], "text string"
    ).select(F.md5("text").alias("digest"))
    q = run_prep_stream(
        spark, docs_dir, out_dir, vocab_size=256, ref_digests=ref
    )
    q.awaitTermination(120)
    out = spark.read.parquet(f"{out_dir}/tokenized")
    assert [r["doc_id"] for r in out.collect()] == [2]
