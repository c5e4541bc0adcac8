"""Parser correctness: Spark-parsed spans must equal the field-level oracle.

The oracle parquet is written straight from generated fields (generator.py),
so this exercises the full token encode -> decode roundtrip, for BOTH
parsers: the Arrow-vectorized kernel (``parse_spans``) and the JVM
expression parser every job runs (``parse_spans_jvm``). Each test loops
over ``PARSERS`` and names the parser in its failure message.
Mirrors the reference decoder tests (/root/reference/src/decoder.rs:212-227)
plus full-field equality, which the reference never asserts.
"""

import pandas as pd
import pytest

from otel_tail_sampler_spark.operators.parser import (
    SPAN_FIELDS,
    parse_spans,
    parse_spans_jvm,
)

PARSERS = {"parse_spans": parse_spans, "parse_spans_jvm": parse_spans_jvm}


def _parsed_pandas(parse, df) -> pd.DataFrame:
    return (
        parse(df).drop("tokens").toPandas().sort_values("doc_id").reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def parsed_and_oracle(spark, small_dataset):
    raw = spark.read.parquet(small_dataset["tokenized"])
    parsed = {name: _parsed_pandas(parse, raw) for name, parse in PARSERS.items()}
    oracle = (
        pd.read_parquet(small_dataset["oracle"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    return parsed, oracle


FIELDS = [
    "trace_id",
    "span_id",
    "parent_span_id",
    "timestamp_ms",
    "duration_ms",
    "status_code",
    "span_kind",
    "service_name",
    "operation_name",
]


def test_row_count(parsed_and_oracle):
    parsed, oracle = parsed_and_oracle
    for name, df in parsed.items():
        assert len(df) == len(oracle) > 0, name


@pytest.mark.parametrize("field", FIELDS)
def test_field_equality(parsed_and_oracle, field):
    parsed, oracle = parsed_and_oracle
    for name, df in parsed.items():
        p, o = df[field], oracle[field]
        if field == "parent_span_id":
            assert (p.isna() == o.isna()).all(), name
            mask = ~o.isna()
            assert (p[mask] == o[mask]).all(), name
        else:
            assert (p == o).all(), f"{name} {field}: first diff at\n{df[p != o].head(3)}"


def test_roots_are_null_parent(parsed_and_oracle):
    parsed, _ = parsed_and_oracle
    for name, df in parsed.items():
        roots = df[df["parent_span_id"].isna()]
        assert roots["trace_id"].nunique() == df["trace_id"].nunique(), name


def test_n_tok_matches_token_length(spark, small_dataset):
    from pyspark.sql import functions as F

    df = spark.read.parquet(small_dataset["tokenized"])
    assert df.filter(F.size("tokens") != F.col("n_tok")).count() == 0


def test_hex_ids_shape(parsed_and_oracle):
    parsed, _ = parsed_and_oracle
    for name, df in parsed.items():
        assert df["trace_id"].str.fullmatch(r"[0-9A-F]{32}").all(), name
        assert df["span_id"].str.fullmatch(r"[0-9A-F]{16}").all(), name


def test_malformed_rows_quarantined(spark, tmp_path):
    """Truncated/garbage token arrays must not abort the job (parse_ok=false,
    routed to the malformed sink) while valid rows still parse. Both
    parsers flag the same rows and null every decoded field of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from otel_tail_sampler_spark.plans.pipeline import run_pipeline
    from otel_tail_sampler_spark.sources.generator import GenSpec, generate_fields, build_token_arrays

    f = generate_fields(GenSpec(n_traces=4, spans_per_trace=2, seed=3))
    good = build_token_arrays(f)
    bad = pa.array(
        [[1, 2, 3], [], [0] * 14 + [99, 65], [0] * 14 + [1, 65, -5, 66]],
        pa.list_(pa.int32()),
    )
    tokens = pa.concat_arrays([good.cast(pa.list_(pa.int32())), bad])
    n = len(tokens)
    tbl = pa.table(
        {
            "doc_id": pa.array([f"d{i}" for i in range(n)]),
            "tokens": tokens,
            "n_tok": pa.array([len(tokens[i]) for i in range(n)], pa.int32()),
            "source": pa.array(["s"] * n),
        }
    )
    path = str(tmp_path / "mixed.parquet")
    pq.write_table(tbl, path)

    res = run_pipeline(spark, path)
    routed = res.routed.toPandas()
    assert len(routed) == n
    mal = routed[routed["decision"] == "malformed"]
    assert set(mal["doc_id"]) == {"d8", "d9", "d10", "d11"}
    assert (routed[routed["decision"] != "malformed"]["parse_ok"]).all()
    # malformed rows keep their original tokens for replay
    assert sorted(len(t) for t in mal["tokens"]) == [0, 3, 16, 18]

    decoded = [n for n, _ in SPAN_FIELDS if n != "parse_ok"]
    frames = {}
    for name, parse in PARSERS.items():
        got = _parsed_pandas(parse, spark.read.parquet(path))
        bad_rows = got[~got["parse_ok"]]
        assert set(bad_rows["doc_id"]) == {"d8", "d9", "d10", "d11"}, name
        assert bad_rows[decoded].isna().all().all(), name
        frames[name] = got
    pd.testing.assert_frame_equal(
        frames["parse_spans"], frames["parse_spans_jvm"], check_dtype=False
    )


def test_jvm_routing_key_equals_python_parse(spark, small_dataset):
    """with_routing_key (pure JVM) must agree with the Arrow parser on both
    trace_id and parse_ok, including malformed rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import parse_spans, with_routing_key

    from otel_tail_sampler_spark.operators.parser import hex_from_keys

    df = spark.read.parquet(small_dataset["tokenized"])
    a = with_routing_key(df).select(
        "doc_id",
        F.when(
            F.col("parse_ok"),
            hex_from_keys(F.col("trace_k1"), F.col("trace_k2")),
        ).alias("tid"),
        "parse_ok",
    )
    b = parse_spans(df, False).select(
        "doc_id", F.col("trace_id").alias("t2"), F.col("parse_ok").alias("p2")
    )
    assert (
        a.join(b, "doc_id")
        .filter("tid IS DISTINCT FROM t2 OR parse_ok <> p2")
        .count()
        == 0
    )


def test_jvm_routing_key_malformed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import with_routing_key

    bad = pa.array(
        [[1, 2, 3], [], [0] * 14 + [99, 65], [0] * 14 + [1, 65, -5, 66],
         [0] * 14 + [0, 0]],
        pa.list_(pa.int32()),
    )
    tbl = pa.table(
        {"doc_id": [f"d{i}" for i in range(5)], "tokens": bad,
         "n_tok": pa.array([3, 0, 16, 18, 16], pa.int32()),
         "source": ["s"] * 5}
    )
    p = str(tmp_path / "bad2.parquet")
    pq.write_table(tbl, p)
    from otel_tail_sampler_spark.operators.parser import hex_from_keys

    rows = (
        with_routing_key(spark.read.parquet(p))
        .select(
            "doc_id",
            "parse_ok",
            F.when(
                F.col("parse_ok"),
                hex_from_keys(F.col("trace_k1"), F.col("trace_k2")),
            ).alias("trace_id"),
        )
        .collect()
    )
    by = {r["doc_id"]: (r["parse_ok"], r["trace_id"]) for r in rows}
    assert by["d0"][0] is False and by["d0"][1] is None
    assert by["d1"][0] is False
    assert by["d2"][0] is False  # svc_len 99 out of bounds
    assert by["d3"][0] is False  # negative op len
    assert by["d4"] == (True, "00000000000000000000000000000000")


def test_csv_name_decode_of_empty_names(spark):
    """An empty service or operation name round-trips through the deferred
    code-point CSV decode of the streaming job (name_csv_exprs ->
    csv_name_expr) as "" under ANSI mode instead of failing the job with
    CAST_INVALID_INPUT on the empty CSV."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import csv_name_expr, name_csv_exprs

    df = spark.createDataFrame(
        [("d0", [0] * 14 + [0, 2, 65, 66]), ("d1", [0] * 14 + [2, 65, 66, 0])],
        "doc_id string, tokens array<int>",
    )
    svc, op = name_csv_exprs(F.col("tokens"))
    ansi_key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(ansi_key)
    spark.conf.set(ansi_key, "true")
    try:
        rows = df.select(
            "doc_id", csv_name_expr(svc).alias("svc"), csv_name_expr(op).alias("op")
        ).collect()
    finally:
        spark.conf.set(ansi_key, prev)
    assert sorted((r["doc_id"], r["svc"], r["op"]) for r in rows) == [
        ("d0", "", "AB"),
        ("d1", "AB", ""),
    ]
