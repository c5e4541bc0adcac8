"""Token-array -> span-columns parser (the decode stage), two variants.

Re-expresses the reference's OTLP decode (/root/reference/src/decoder.rs:23-115:
hex-encoded ids, nanos->ms arithmetic, default service name) for the tokenized
input of FIXTURES.md §1.

* ``parse_spans_jvm`` — pure whole-stage-codegen expressions (slot math,
  hex/lpad, char() payload decode). The only parser of the batch job
  (plans.pipeline.route, which run_and_write writes and resumes) and of
  the streaming job; the batch DAG has ZERO Python stages. Whether it
  beats the Arrow kernel depends on the names: measured on a 4-core VM
  (sf0.1, 600k spans, local[4]), it is faster when the service/operation
  names are pruned or left undecoded, as the jobs do (decide-and-count
  1.30 s vs 1.92 s wall, 3.2 vs 6.2 CPU-s), because the corpus never
  crosses the JVM<->Python socket; and slower when every field is
  decoded per span (full-field collect 6.81 s vs 5.74 s, 13.3 vs 9.8
  CPU-s), because its per-character char() decode runs interpreted.
* ``parse_spans`` — the Arrow-vectorized numpy kernel via
  ``DataFrame.mapInArrow``: every field extracted with gather/slice math
  on the flattened list buffer, no per-row Python. Kept as the
  independently written reference decode (tests/test_parser.py checks both
  parsers field by field against the generator's oracle) and as the parse
  stage that bench.py times and the ``parse_spans`` oracle query runs.

Both are narrow (no shuffle): Spark pipelines scan -> parse inside one
task, so they scale linearly with input splits at any table size. Both
emit the trace key pair (trace_k1, trace_k2): the only trace key that
assembly groups on and the route's window partitions on.
"""

from __future__ import annotations

import binascii
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.sources.generator import HDR

# Parsed span schema appended to the (passed-through) input columns.
# trace_k1/k2 are the 128-bit trace id as two int64 words — the pipeline's
# internal join/group key (16 fixed bytes, no per-span string construction;
# the hex rendering is derived per-TRACE after aggregation, not per span).
SPAN_FIELDS = [
    ("trace_k1", pa.int64()),
    ("trace_k2", pa.int64()),
    ("trace_id", pa.string()),
    ("span_id", pa.string()),
    ("parent_span_id", pa.string()),
    ("timestamp_ms", pa.int64()),
    ("duration_ms", pa.int64()),
    ("status_code", pa.int32()),
    ("span_kind", pa.int32()),
    ("service_name", pa.string()),
    ("operation_name", pa.string()),
    ("parse_ok", pa.bool_()),
]

# the only trace key downstream operators group and join on
TRACE_KEY = ["trace_k1", "trace_k2"]

# the tokenized row every source yields and the parser reads (FIXTURES.md §1)
TOKENIZED_DDL = "doc_id string, tokens array<int>, n_tok int, source string"

PARSED_DDL = (
    "trace_k1 long, trace_k2 long, "
    "trace_id string, span_id string, parent_span_id string, "
    "timestamp_ms long, duration_ms long, status_code int, span_kind int, "
    "service_name string, operation_name string, parse_ok boolean"
)


def _hex_fixed(words: np.ndarray, width: int) -> pa.Array:
    """(n, k) int32 words -> uppercase hex strings of ``width`` chars."""
    raw = words.astype(">u4").tobytes()
    hexed = binascii.hexlify(raw).upper()
    n = words.shape[0]
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(hexed)
    )


def _gather_strings(vals: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> pa.Array:
    """Variable-length code-point runs -> Arrow string array, fully vectorized."""
    n = len(starts)
    cum = np.zeros(n + 1, np.int64)
    np.cumsum(lens, out=cum[1:])
    total = int(cum[-1])
    flat = np.repeat(starts, lens) + (np.arange(total) - np.repeat(cum[:-1], lens))
    data = vals[flat].astype(np.uint8).tobytes()
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(cum.astype(np.int32).tobytes()), pa.py_buffer(data)
    )


def _i64(vals: np.ndarray, off: np.ndarray, slot: int) -> np.ndarray:
    hi = vals[off + slot].astype(np.uint32).astype(np.uint64)
    lo = vals[off + slot + 1].astype(np.uint32).astype(np.uint64)
    return ((hi << np.uint64(32)) | lo).view(np.int64)


# a structurally-valid empty record: zero ids, zero times, empty strings —
# malformed input rows are redirected here, parsed, then nulled out
_DUMMY = np.zeros(HDR + 2, np.int32)


def _parse_batch(tokens: pa.ListArray) -> dict[str, pa.Array]:
    """Decode one Arrow batch into every SPAN_FIELDS column."""
    import pyarrow.compute as pc

    offs = tokens.offsets.to_numpy().astype(np.int64)
    vals = tokens.values.to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
    off = offs[:-1]
    row_len = offs[1:] - off

    # --- malformed-row tolerance: never abort the job on one bad record ----
    # Redirect structurally-invalid rows to an appended dummy record, parse
    # everything branch-free, then null their fields out (parse_ok=false).
    vals = np.concatenate([vals, _DUMMY])
    dummy_off = len(vals) - len(_DUMMY)

    ok = row_len >= HDR + 2
    off = np.where(ok, off, dummy_off)
    row_len = np.where(ok, row_len, len(_DUMMY))
    svc_len_c = vals[off + HDR].astype(np.int64)
    ok &= (svc_len_c >= 0) & (HDR + 1 + svc_len_c + 1 <= row_len)
    off = np.where(ok, off, dummy_off)
    svc_len_c = np.where(ok, svc_len_c, 0)
    op_len_c = vals[off + HDR + 1 + svc_len_c].astype(np.int64)
    ok &= (op_len_c >= 0) & (HDR + 1 + svc_len_c + 1 + op_len_c <= row_len)
    off = np.where(ok, off, dummy_off)

    # Content validity: string payload code points must be ASCII (0..127).
    # Anything else would wrap modulo 256 in the uint8 string build below —
    # silently corrupting service/operation names with invalid UTF-8 — so
    # such rows quarantine as malformed instead (parse never corrupts).
    # parse_ok_expr mirrors this clause JVM-side; keep the two in lockstep.
    # Per-slice bad counts come from ONE prefix sum over the value buffer
    # (csum[end]-csum[start]): no per-byte gather, no repeat/arange
    # temporaries — this block measured ~15% of uniform-pipeline wall time
    # in its original flat-index formulation (BENCH r1->r2 regression).
    svc_len_a = vals[off + HDR].astype(np.int64)
    op_pos_a = off + HDR + 1 + svc_len_a
    op_len_a = vals[op_pos_a].astype(np.int64)
    bad_csum = np.zeros(len(vals) + 1, np.int64)
    np.cumsum((vals < 0) | (vals > 127), out=bad_csum[1:])
    s_start = off + HDR + 1
    o_start = op_pos_a + 1
    n_bad = (bad_csum[s_start + svc_len_a] - bad_csum[s_start]) + (
        bad_csum[o_start + op_len_a] - bad_csum[o_start]
    )
    ok &= n_bad == 0
    off = np.where(ok, off, dummy_off)

    out: dict[str, pa.Array] = {
        "trace_k1": pa.array(_i64(vals, off, 0), pa.int64()),
        "trace_k2": pa.array(_i64(vals, off, 2), pa.int64()),
        "trace_id": _hex_fixed(vals[off[:, None] + np.arange(4)], 32),
        "span_id": _hex_fixed(vals[off[:, None] + np.arange(4, 6)], 16),
    }

    pwords = vals[off[:, None] + np.arange(6, 8)]
    is_root = (pwords[:, 0] == 0) & (pwords[:, 1] == 0)  # (0,0) <=> NULL (decoder.rs:72-77)
    parent_hex = _hex_fixed(pwords, 16)
    if is_root.any():
        mask = np.packbits(~is_root, bitorder="little")
        parent_hex = pa.StringArray.from_buffers(
            len(off),
            parent_hex.buffers()[1],
            parent_hex.buffers()[2],
            pa.py_buffer(mask.tobytes()),
            int(is_root.sum()),
        )
    out["parent_span_id"] = parent_hex

    out["timestamp_ms"] = pa.array(_i64(vals, off, 8), pa.int64())
    out["duration_ms"] = pa.array(_i64(vals, off, 10), pa.int64())
    out["status_code"] = pa.array(vals[off + 12], pa.int32())
    out["span_kind"] = pa.array(vals[off + 13], pa.int32())
    svc_len = vals[off + HDR].astype(np.int64)
    svc_start = off + HDR + 1
    op_len_pos = svc_start + svc_len
    out["service_name"] = _gather_strings(vals, svc_start, svc_len)
    op_len = vals[op_len_pos].astype(np.int64)
    out["operation_name"] = _gather_strings(vals, op_len_pos + 1, op_len)
    if not ok.all():
        ok_arr = pa.array(ok)
        out = {
            name: pc.if_else(ok_arr, arr, pa.scalar(None, arr.type))
            for name, arr in out.items()
        }
    out["parse_ok"] = pa.array(ok)
    return out


def parse_spans(df: DataFrame, keep_tokens: bool = True) -> DataFrame:
    """tokenized (doc_id, tokens, n_tok, source) -> + parsed span columns.

    ``keep_tokens=False`` drops the wide array column INSIDE the Python stage
    (not after it) so it is never serialized back over Arrow — downstream
    aggregation then shuffles only narrow columns (the metadata-first pattern
    of docs/ARCHITECTURE_V2_ICEBERG.md:27-33).
    """
    in_fields = [
        (f.name, df.schema[f.name].dataType)
        for f in df.schema.fields
        if keep_tokens or f.name != "tokens"
    ]
    type_ddl = dict(
        (n, d)
        for n, d in (p.split(" ") for p in PARSED_DDL.split(", "))
    )
    out_schema_ddl = ", ".join(
        [f"{n} {t.simpleString()}" for n, t in in_fields]
        + [f"{n} {type_ddl[n]}" for n, _ in SPAN_FIELDS]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tokens = batch.column("tokens")
            if isinstance(tokens, pa.ChunkedArray):  # defensive; batches are flat
                tokens = tokens.combine_chunks()
            parsed = _parse_batch(tokens)
            arrays, names = [], []
            for i, nm in enumerate(batch.schema.names):
                if keep_tokens or nm != "tokens":
                    arrays.append(batch.column(i))
                    names.append(nm)
            for nm, _ in SPAN_FIELDS:
                arrays.append(parsed[nm])
                names.append(nm)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(fn, out_schema_ddl)


def _hex_word(tokens: Column, idx1: int) -> Column:
    """1-based int32 slot -> 8-char uppercase hex (two's-complement uint32)."""
    w = F.get(tokens, idx1 - 1).cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
    return F.lpad(F.hex(w), 8, "0")


def _i64_word(tokens: Column, idx0: int) -> Column:
    """two int32 slots (0-based idx0, idx0+1) -> int64 (hi<<32 | lo)."""
    hi = F.get(tokens, idx0).cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
    lo = F.get(tokens, idx0 + 1).cast("bigint").bitwiseAND(F.lit(0xFFFFFFFF))
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def parse_ok_expr(tokens: Column) -> Column:
    """JVM-side validity — same predicate as _parse_batch's ok (structural
    layout + ASCII-only string payloads), kept in lockstep so the routing
    fast path and the Arrow parser always agree on what is malformed."""
    n = F.size(tokens)
    svc_len = F.get(tokens, HDR)
    op_len = F.get(tokens, F.lit(HDR + 1) + svc_len)
    structural = (
        (n >= HDR + 2)
        & (svc_len >= 0)
        & (F.lit(HDR + 2) + svc_len <= n)
        & (op_len >= 0)
        & (F.lit(HDR + 2) + svc_len + op_len <= n)
    )
    # slices are 1-based and only evaluated when `structural` holds (CaseWhen
    # evaluates branches lazily), so the dynamic start/length are in range.
    # array_min/array_max instead of a forall lambda: higher-order functions
    # run interpreted (outside whole-stage codegen) and defeat subexpression
    # elimination, which costs ~8x on the routing hot path where this
    # predicate appears in three sibling expressions (parse_ok, k1, k2).
    payload = F.concat(
        F.slice(tokens, HDR + 2, svc_len),
        F.slice(tokens, F.lit(HDR + 3) + svc_len, op_len),
    )
    ascii_ok = F.coalesce(F.array_min(payload) >= 0, F.lit(True)) & F.coalesce(
        F.array_max(payload) <= 127, F.lit(True)
    )
    return F.coalesce(
        F.when(structural, ascii_ok).otherwise(F.lit(False)), F.lit(False)
    )


def day_expr(tokens: Column) -> Column:
    """JVM-side UTC day from the timestamp header slots (8,9) — the
    reference's ``day(timestamp_ms)`` Iceberg partition dimension
    (/root/reference/src/storage/iceberg.rs:317-334) without decoding the
    span. Null (default partition) for rows too short to carry slot 9."""
    return F.to_date(F.timestamp_millis(_i64_word(tokens, 8)))


def hex_from_keys(k1: Column, k2: Column) -> Column:
    """(trace_k1, trace_k2) -> canonical 32-char uppercase hex trace_id.
    hex() of a signed long prints its two's-complement (= unsigned) value
    in uppercase without leading zeros, and lpad restores them, so this
    matches the parser's big-endian hex exactly. Codegen'd string ops
    rather than format_string's java.util.Formatter: the route formats the
    id once per span row."""
    return F.concat(F.lpad(F.hex(k1), 16, "0"), F.lpad(F.hex(k2), 16, "0"))


def name_csv_exprs(tokens: Column) -> tuple[Column, Column]:
    """Raw (service, operation) payload slices as comma-joined code-point
    CSV strings — a pure cast/concat projection measured ~2.3x cheaper
    than the per-character ``char()`` decode (whose ``transform`` lambda
    runs interpreted). Injective for any ASCII payload: a comma in the
    name appears as the code "44", never as a separator. Decode with
    :func:`csv_name_expr` AFTER aggregation (per distinct value, not per
    span) or Python-side at emit. Caller must gate with ``parse_ok``
    (ANSI mode errors on junk slice bounds)."""
    svc_len = F.get(tokens, HDR)
    op_len = F.get(tokens, F.lit(HDR + 1) + svc_len)
    svc = F.concat_ws(
        ",", F.slice(tokens, HDR + 2, svc_len).cast("array<string>")
    )
    op = F.concat_ws(
        ",",
        F.slice(tokens, F.lit(HDR + 3) + svc_len, op_len).cast(
            "array<string>"
        ),
    )
    return svc, op


def csv_name_expr(c: Column) -> Column:
    """Inverse of :func:`name_csv_exprs`: code-point CSV -> string.
    Empty CSV (an empty name) decodes to "": split yields [""], which
    ``try_cast`` turns into NULL instead of raising CAST_INVALID_INPUT
    under ANSI mode, and array_join skips the resulting char(NULL)."""
    return F.array_join(
        F.transform(F.split(c, ","), lambda x: F.char(x.try_cast("int"))), ""
    )


def with_routing_key(tokenized: DataFrame) -> DataFrame:
    """tokenized -> + (trace_k1, trace_k2, parse_ok) without any Python
    stage and without per-span string construction.

    The keys are extracted UNgated (pure int64 slot math; null only when the
    row is shorter than 4 slots). Junk keys on malformed rows are harmless —
    route_spans windows over (key, parse_ok), so a malformed row never
    shares a real trace's window, and decide() routes it to 'malformed' —
    and leaving them ungated means the validity predicate, whose payload
    scan is the expensive part, is evaluated once per row instead of three
    times (measured 1.75x on the routing stage)."""
    return tokenized.withColumns(
        {
            "trace_k1": _i64_word(F.col("tokens"), 0),
            "trace_k2": _i64_word(F.col("tokens"), 2),
            "parse_ok": parse_ok_expr(F.col("tokens")),
        }
    )


def parse_spans_jvm(
    df: DataFrame,
    keep_tokens: bool = True,
    fields: list[str] | None = None,
) -> DataFrame:
    """Pure-JVM variant of parse_spans: identical columns, identical
    values (equality-tested incl. malformed quarantine), ZERO Python
    stage — the wide token column never crosses the Arrow boundary.

    Built from the same whole-stage-codegen expression family the routing
    side already uses (_i64_word/_hex_word/parse_ok_expr); the string
    payloads decode with char() over a token slice, which is the only
    interpreted part (higher-order functions run outside codegen). The
    Arrow kernel pays the corpus crossing the JVM<->Python socket, this
    variant pays interpreted per-character decode: it wins when the names
    are pruned and loses when every span's names are decoded (the module
    docstring has the measured numbers).
    """
    t = F.col("tokens")
    ok = parse_ok_expr(t)
    svc_len = F.get(t, HDR)
    op_len = F.get(t, F.lit(HDR + 1) + svc_len)

    def chars(start1: Column, ln: Column) -> Column:
        # ASCII guaranteed by parse_ok_expr's payload check
        return F.array_join(
            F.transform(F.slice(t, start1, ln), lambda c: F.char(c)), ""
        )

    parent = F.when(
        (F.get(t, 6) == 0) & (F.get(t, 7) == 0), F.lit(None)
    ).otherwise(F.concat(_hex_word(t, 7), _hex_word(t, 8)))
    exprs = {
        "trace_k1": _i64_word(t, 0),
        "trace_k2": _i64_word(t, 2),
        "trace_id": F.concat(*[_hex_word(t, i) for i in range(1, 5)]),
        "span_id": F.concat(_hex_word(t, 5), _hex_word(t, 6)),
        "parent_span_id": parent,
        "timestamp_ms": _i64_word(t, 8),
        "duration_ms": _i64_word(t, 10),
        "status_code": F.get(t, 12),
        "span_kind": F.get(t, 13),
        "service_name": chars(F.lit(HDR + 2), svc_len),
        "operation_name": chars(F.lit(HDR + 3) + svc_len, op_len),
    }
    want = [
        n for n, _ in SPAN_FIELDS
        if n != "parse_ok" and (fields is None or n in fields)
    ]
    out = df.withColumns(
        {n: F.when(ok, exprs[n]) for n in want} | {"parse_ok": ok}
    )
    return out.drop("tokens") if not keep_tokens else out
