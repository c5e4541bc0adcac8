"""Property-based tests (hypothesis) for the token parser.

Contract under test (FIXTURES.md §1 + parser.py): on ARBITRARY int32 arrays
the parser must (1) never raise, (2) conserve rows, (3) set parse_ok iff the
row satisfies the documented layout with ASCII string payloads, (4) decode
valid rows exactly, (5) null every field of malformed rows, and (6) agree
bit-for-bit with the JVM routing fast path (parse_ok_expr / with_routing_key)
on every input — the two predicates routing and parsing must never diverge,
or a span could be decided by one path and quarantined by the other.

_parse_batch is a pure Arrow->Arrow function, so hypothesis drives it
directly (hundreds of examples, no JVM); the Python-vs-JVM agreement runs
once over a seeded adversarial corpus in a single Spark job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from otel_tail_sampler_spark.operators import parser as P
from otel_tail_sampler_spark.sources.generator import HDR

I32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)


def ref_ok(toks: list[int]) -> bool:
    """Independent (scalar, obvious) reimplementation of the validity rule."""
    n = len(toks)
    if n < HDR + 2:
        return False
    svc = toks[HDR]
    if svc < 0 or HDR + 2 + svc > n:
        return False
    op = toks[HDR + 1 + svc]
    if op < 0 or HDR + 2 + svc + op > n:
        return False
    payload = toks[HDR + 1 : HDR + 1 + svc] + toks[HDR + 2 + svc : HDR + 2 + svc + op]
    return all(0 <= c <= 127 for c in payload)


def _i64_ref(hi: int, lo: int) -> int:
    v = ((hi & 0xFFFFFFFF) << 32) | (lo & 0xFFFFFFFF)
    return v - 2**64 if v >= 2**63 else v


def _hex_ref(words: list[int]) -> str:
    return "".join("%08X" % (w & 0xFFFFFFFF) for w in words)


@st.composite
def valid_row(draw):
    svc = draw(st.lists(st.integers(0, 127), max_size=6))
    op = draw(st.lists(st.integers(0, 127), max_size=6))
    hdr = draw(st.lists(I32, min_size=HDR, max_size=HDR))
    tail = draw(st.lists(I32, max_size=3))  # trailing junk is tolerated
    return hdr + [len(svc)] + svc + [len(op)] + op + tail


row_strategy = st.one_of(
    st.lists(I32, min_size=0, max_size=40),  # arbitrary garbage
    valid_row(),
)


def _parse(rows: list[list[int]]) -> dict:
    arr = pa.array(rows, pa.list_(pa.int32()))
    return P._parse_batch(arr)


@given(st.lists(row_strategy, min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_parse_never_crashes_and_flags_exactly(rows):
    out = _parse(rows)
    assert all(len(a) == len(rows) for a in out.values())  # row conservation
    assert out["parse_ok"].to_pylist() == [ref_ok(r) for r in rows]


@given(st.lists(valid_row(), min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_valid_rows_decode_exactly(rows):
    out = _parse(rows)
    got = {k: v.to_pylist() for k, v in out.items()}
    for i, r in enumerate(rows):
        svc_len = r[HDR]
        op_pos = HDR + 1 + svc_len
        assert got["parse_ok"][i] is True
        assert got["trace_id"][i] == _hex_ref(r[0:4])
        assert got["span_id"][i] == _hex_ref(r[4:6])
        parent = None if r[6] == 0 and r[7] == 0 else _hex_ref(r[6:8])
        assert got["parent_span_id"][i] == parent
        assert got["trace_k1"][i] == _i64_ref(r[0], r[1])
        assert got["trace_k2"][i] == _i64_ref(r[2], r[3])
        assert got["timestamp_ms"][i] == _i64_ref(r[8], r[9])
        assert got["duration_ms"][i] == _i64_ref(r[10], r[11])
        assert got["status_code"][i] == r[12]
        assert got["span_kind"][i] == r[13]
        assert got["service_name"][i] == "".join(map(chr, r[HDR + 1 : op_pos]))
        assert got["operation_name"][i] == "".join(
            map(chr, r[op_pos + 1 : op_pos + 1 + r[op_pos]])
        )


@given(st.lists(st.lists(I32, min_size=0, max_size=40), min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_malformed_rows_fully_nulled(rows):
    out = _parse(rows)
    ok = out["parse_ok"].to_pylist()
    for name, arr in out.items():
        if name == "parse_ok":
            continue
        vals = arr.to_pylist()
        for i, o in enumerate(ok):
            if not o:
                assert vals[i] is None, f"{name}[{i}] leaked from malformed row"


def _adversarial_corpus(n: int = 400, seed: int = 7) -> list[list[int]]:
    """Seeded mix: garbage, truncations, huge/negative lengths, non-ASCII
    payloads, valid rows with trailing junk — one corpus, one Spark job."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows: list[list[int]] = []
    for _ in range(n):
        kind = rng.integers(0, 5)
        if kind == 0:  # pure garbage
            rows.append(rng.integers(-(2**31), 2**31, rng.integers(0, 40)).tolist())
        elif kind == 1:  # valid
            svc = rng.integers(32, 127, rng.integers(0, 8)).tolist()
            op = rng.integers(32, 127, rng.integers(0, 8)).tolist()
            hdr = rng.integers(-(2**31), 2**31, HDR).tolist()
            rows.append(hdr + [len(svc)] + svc + [len(op)] + op)
        elif kind == 2:  # structurally valid, non-ASCII payload
            svc = rng.integers(128, 2**31, rng.integers(1, 6)).tolist()
            hdr = rng.integers(-(2**31), 2**31, HDR).tolist()
            rows.append(hdr + [len(svc)] + svc + [0])
        elif kind == 3:  # hostile length slots
            hdr = rng.integers(-(2**31), 2**31, HDR).tolist()
            rows.append(hdr + [int(rng.choice([-1, 2**30, 5]))] + [65, 66])
        else:  # truncated valid
            rows.append(rng.integers(-(2**31), 2**31, rng.integers(0, HDR + 2)).tolist())
    return rows


def test_jvm_and_python_predicates_agree(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rows = _adversarial_corpus()
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(len(rows))],
            "tokens": rows,
            "n_tok": [len(r) for r in rows],
            "source": "prop",
        }
    )
    df = spark.createDataFrame(pdf, "doc_id string, tokens array<int>, n_tok int, source string")

    parsed = P.parse_spans(df).select("doc_id", "trace_k1", "trace_k2", "parse_ok")
    jvm = P.with_routing_key(df).select(
        "doc_id",
        F.col("trace_k1").alias("j_k1"),
        F.col("trace_k2").alias("j_k2"),
        F.col("parse_ok").alias("j_ok"),
    )
    both = parsed.join(jvm, "doc_id").toPandas().sort_values("doc_id")
    assert len(both) == len(rows)
    assert (both["parse_ok"] == both["j_ok"]).all()
    ok = both[both["parse_ok"]]
    assert (ok["trace_k1"] == ok["j_k1"]).all()
    assert (ok["trace_k2"] == ok["j_k2"]).all()
    # expected flags from the scalar reference implementation
    expect = {f"d{i}": ref_ok(r) for i, r in enumerate(rows)}
    got = dict(zip(both["doc_id"], both["parse_ok"]))
    assert got == expect
