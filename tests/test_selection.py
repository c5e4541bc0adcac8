"""DSIR importance selection (operators/selection.py).

The Spark kernels and the DuckDB oracle share the pack/bucket/smoothing
formulas, so (symmetric-bug rule) correctness rests on an independent
pure-Python scalar reference of the model counts and the scores, checked
over edge shapes (empty and single-token docs, INT32_MIN packs, negative
modulo).
"""

import pytest

from otel_tail_sampler_spark.operators.selection import (
    build_dsir_model,
    dsir_score,
    dsir_select,
)

VECS = [
    ("d0", [1, 2, 3, 1, 2]),        # target-ish
    ("d1", [1, 2, 1, 2]),           # pure target bigrams
    ("d2", [7, 8, 9]),              # raw-only bigrams
    ("d3", [5]),                    # single token: no features
    ("d4", []),                     # empty doc
    ("d5", [-2147483648, -1, 3]),   # INT32_MIN pack edge + negative mod
]
TARGET_IDS = {"d0", "d1"}


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>"
    )


def _pack(a, b):
    return a * 4294967296 + (b & 0xFFFFFFFF)


def _ref_counts(rows, target_ids, n_buckets):
    """Scalar bucket counts: (t_freq, r_freq) dicts keyed by bucket."""
    tf: dict = {}
    rf: dict = {}
    for did, toks in rows:
        for a, b in zip(toks, toks[1:]):
            f = _pack(a, b) % n_buckets  # python %: sign of divisor
            rf[f] = rf.get(f, 0) + 1
            if did in target_ids:
                tf[f] = tf.get(f, 0) + 1
    return tf, rf


def _ref_model(rows, target_ids, n_buckets):
    """The model rows a builder must emit: (bucket, t_freq, r_freq) for
    every bucket observed in either corpus."""
    tf, rf = _ref_counts(rows, target_ids, n_buckets)
    return sorted((f, tf.get(f, 0), rf[f]) for f in rf)


def _ref(rows, target_ids, n_buckets, scale_bits=20):
    """Independent scalar reference of the documented formulas."""
    tf, rf = _ref_counts(rows, target_ids, n_buckets)
    t_total, r_total = sum(tf.values()), sum(rf.values())
    s = 1 << scale_bits
    out = {}
    for did, toks in rows:
        feats = [
            _pack(a, b) % n_buckets for a, b in zip(toks, toks[1:])
        ]
        tm = sum(tf.get(f, 0) + 1 for f in feats)
        rm = sum(rf.get(f, 0) + 1 for f in feats)
        if feats:
            ratio = (s * tm * (r_total + n_buckets)) // (
                rm * (t_total + n_buckets)
            )
        else:
            ratio = s
        out[did] = (len(feats), tm, rm, ratio)
    return out


def test_score_matches_scalar_reference(spark):
    n_buckets = 64  # tiny: forces real bucket collisions
    rows = [(d, t) for d, t in VECS]
    df = _df(spark, rows)
    target = df.filter(df.doc_id.isin(*TARGET_IDS))
    model = build_dsir_model(target, df, n_buckets=n_buckets)
    got = {
        r["doc_id"]: (
            r["n_feat"],
            r["target_mass"],
            r["raw_mass"],
            r["ratio_fp"],
        )
        for r in dsir_score(df, model, n_buckets=n_buckets).collect()
    }
    assert got == _ref(rows, TARGET_IDS, n_buckets)


def test_model_counts_planted(spark):
    df = _df(spark, [("a", [1, 2, 1, 2]), ("b", [1, 2])])
    target = df.filter("doc_id = 'b'")
    model = {
        r["bucket"]: (r["t_freq"], r["r_freq"])
        for r in build_dsir_model(target, df, n_buckets=16).collect()
    }
    b12 = _pack(1, 2) % 16
    b21 = _pack(2, 1) % 16
    assert model[b12] == (1, 3)  # (1,2) twice in a, once in b
    assert model[b21] == (0, 1)  # (2,1) raw-only


def test_dsir_score_matches_reference_on_edge_shapes(spark):
    # the scoring kernel vs the scalar reference over the edge corpus
    df = _df(spark, VECS)
    target = df.filter(df.doc_id.isin(*TARGET_IDS))
    model = build_dsir_model(target, df, n_buckets=32)
    got = {
        r["doc_id"]: (
            r["n_feat"],
            r["target_mass"],
            r["raw_mass"],
            r["ratio_fp"],
        )
        for r in dsir_score(df, model, n_buckets=32).collect()
    }
    assert got == _ref(VECS, TARGET_IDS, 32)


def test_select_topk_rank_and_ties(spark):
    # d3/d4 both have no features -> identical neutral ratio; the tie
    # must break to the smaller doc_id deterministically.
    df = _df(spark, VECS)
    target = df.filter(df.doc_id.isin(*TARGET_IDS))
    model = build_dsir_model(target, df, n_buckets=64)
    rows = dsir_select(df, model, k=6, n_buckets=64).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5, 6]
    ratios = [r["ratio_fp"] for r in rows]
    assert ratios == sorted(ratios, reverse=True)
    tied = [r["doc_id"] for r in rows if r["ratio_fp"] == 1 << 20]
    assert tied == sorted(tied)
    # target-bigram docs outrank the raw-only doc
    ranked = {r["doc_id"]: r["rank"] for r in rows}
    assert ranked["d1"] < ranked["d2"]


def test_empty_target_is_uniform_prior(spark):
    # no target data: t_freq 0 everywhere, so target_mass == n_feat and
    # ranking degenerates to (corpus-rarity)^-1 ordering — still defined.
    df = _df(spark, [("a", [1, 2, 3]), ("b", [9, 9, 9])])
    model = build_dsir_model(df.filter("doc_id = 'zz'"), df, n_buckets=16)
    got = dsir_score(df, model, n_buckets=16).collect()
    for r in got:
        assert r["target_mass"] == r["n_feat"]


def test_sample_matches_scalar_reference_and_nests(spark):
    import hashlib

    from otel_tail_sampler_spark.operators.selection import dsir_sample

    rows = [(f"s{i:02d}", [i % 5, (i * 7) % 5, (i * 3) % 5]) for i in range(60)]
    df = _df(spark, rows)
    target = df.filter("doc_id < 's10'")
    model = build_dsir_model(target, df, n_buckets=32)
    ref = _ref(rows, {d for d, _ in rows if d < "s10"}, 32)

    def ref_keep(rate):
        r_fp = int(round(rate * (1 << 20)))
        keep = set()
        for did, _ in rows:
            h32 = int(
                hashlib.md5(f"{did}|dsir".encode()).hexdigest()[:8], 16
            )
            ratio = ref[did][3]
            if h32 * (1 << 20) * (1 << 20) < ratio * r_fp * (1 << 32):
                keep.add(did)
        return keep

    prev = set()
    for rate in (0.0, 0.3, 0.8, 2.0):
        got = {
            r["doc_id"]
            for r in dsir_sample(df, model, rate, n_buckets=32).collect()
        }
        assert got == ref_keep(rate), rate
        assert prev <= got  # nested keep sets
        prev = got
    assert ref_keep(0.0) == set()
    # a huge rate saturates min(1, .): everything kept
    assert {
        r["doc_id"]
        for r in dsir_sample(df, model, 1e6, n_buckets=32).collect()
    } == {d for d, _ in rows}


def test_partitioned_model_equals_two_corpus_build(spark):
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
    )

    df = _df(spark, VECS)
    two = build_dsir_model(
        df.filter(df.doc_id.isin(*TARGET_IDS)), df, n_buckets=32
    )
    one = build_dsir_model_partitioned(
        df, F.col("doc_id").isin(*TARGET_IDS), n_buckets=32
    )
    assert sorted(map(tuple, two.collect())) == sorted(
        map(tuple, one.collect())
    )


def test_sample_saturation_survives_decimal_range(spark, monkeypatch):
    # The overflow regression: at a saturating rate with a large scale,
    # the unguarded product ratio_fp * r_fp * 2^32 exceeds DECIMAL(38,0)
    # and NULLed the filter — silently dropping the HIGHEST-ratio docs.
    # The threshold disjunct must keep every doc here.
    from otel_tail_sampler_spark.operators import selection
    from otel_tail_sampler_spark.operators.selection import dsir_sample

    monkeypatch.setattr(selection, "DSIR_SCALE_BITS", 55)
    df = _df(spark, [("a", [5]), ("b", []), ("c", [1, 2, 3])])
    model = build_dsir_model(df, df, n_buckets=16)
    got = {
        r["doc_id"]
        for r in dsir_sample(df, model, rate=1e6, n_buckets=16).collect()
    }
    assert got == {"a", "b", "c"}


@pytest.mark.parametrize("build", ["two", "partitioned"])
def test_model_builder_matches_reference_on_edge_shapes(spark, build):
    # the bincount builders vs the scalar bucket counts over the edge
    # corpus (empty docs, single-token docs, negative ids, INT32_MIN
    # boundary packs)
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
    )

    df = _df(spark, VECS)
    if build == "two":
        target = df.filter(df.doc_id.isin(*TARGET_IDS))
        m = build_dsir_model(target, df, n_buckets=32)
    else:
        pred = F.col("doc_id").isin(*TARGET_IDS)
        m = build_dsir_model_partitioned(df, pred, n_buckets=32)
    assert sorted(map(tuple, m.collect())) == _ref_model(
        VECS, TARGET_IDS, 32
    )


def test_model_builder_null_predicate_is_not_target(spark):
    # NULL predicate rows count raw-only (SQL's otherwise(0) semantics;
    # the kernel coalesces the flag to False)
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model_partitioned,
    )

    df = spark.createDataFrame(
        [("a", None, [1, 2]), ("b", "t", [1, 2])],
        "doc_id string, lab string, tokens array<int>",
    )
    pred = F.when(F.col("lab").isNotNull(), F.col("lab") == "t")
    m = build_dsir_model_partitioned(df, pred, n_buckets=16).collect()
    assert [(r["t_freq"], r["r_freq"]) for r in m] == [(1, 2)]
