"""Property tests of the candidate-pair functions (functions/pairs.py).

Both functions are checked against an obvious pure-Python reference on
hypothesis-generated rows over a small id and key universe, so shared
keys, keys held by one id, ids under several keys, duplicate rows and
null keys all occur.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.pairs import band_rows, self_key_pairs

KEY = st.none() | st.integers(min_value=0, max_value=3)
# (id, key) rows: ids repeat, so an id sits under several keys
ROWS = st.lists(st.tuples(st.integers(min_value=0, max_value=5), KEY), max_size=14)
# one row per id with three band keys each
DOCS = st.lists(st.tuples(KEY, KEY, KEY), max_size=8)


def _ref_pairs(rows, count: bool):
    """Over (key, id) rows: every ordered pair of rows on one non-null key
    with the smaller id first; a pair's count is the number of such row
    pairs."""
    c = Counter()
    for k1, i1 in rows:
        for k2, i2 in rows:
            if k1 is not None and k1 == k2 and i1 < i2:
                c[(i1, i2)] += 1
    return dict(c) if count else set(c)


@pytest.mark.slow
@given(ROWS, st.booleans())
@example([(0, 1), (1, 1), (2, 2), (0, 3), (1, 3), (3, None), (4, None)], True)
@example([(0, 1), (1, 1), (2, 2), (0, 3), (1, 3), (3, None), (4, None)], False)
@settings(max_examples=10, deadline=None)
def test_self_key_pairs_matches_reference(spark, rows, count):
    keyed = [(k, i) for i, k in rows]
    df = spark.createDataFrame(keyed, "key long, id long")
    out = self_key_pairs(df, ["key"], "id", "n" if count else None)
    if count:
        assert out.columns == ["id_a", "id_b", "n"]
        got = {(r["id_a"], r["id_b"]): r["n"] for r in out.collect()}
    else:
        assert out.columns == ["id_a", "id_b"]
        got_rows = [(r["id_a"], r["id_b"]) for r in out.collect()]
        assert len(got_rows) == len(set(got_rows))  # distinct form
        got = set(got_rows)
    assert got == _ref_pairs(keyed, count)


@pytest.mark.slow
@given(DOCS)
@example([(1, None, 2), (1, 3, None), (0, 3, 2), (None, None, None)])
@settings(max_examples=10, deadline=None)
def test_band_rows_then_pairs_match_reference(spark, docs):
    df = spark.createDataFrame(
        [(i, *ks) for i, ks in enumerate(docs)],
        "doc_id long, k0 long, k1 long, k2 long",
    )
    rows = band_rows(df, [F.col("k0"), F.col("k1"), F.col("k2")])
    assert rows.columns == ["doc_id", "k0", "k1", "k2", "band", "key"]
    got_rows = Counter(tuple(r) for r in rows.collect())
    want_rows = Counter(
        (i, *ks, b, ks[b]) for i, ks in enumerate(docs) for b in range(3)
    )
    assert got_rows == want_rows

    # a pair's count is the number of bands whose key the two docs share
    band_keyed = [
        ((b, ks[b]) if ks[b] is not None else None, i)
        for i, ks in enumerate(docs)
        for b in range(3)
    ]
    out = self_key_pairs(rows, ["band", "key"], "doc_id", "n_bands_shared")
    got = {(r["id_a"], r["id_b"]): r["n_bands_shared"] for r in out.collect()}
    assert got == _ref_pairs(band_keyed, True)
