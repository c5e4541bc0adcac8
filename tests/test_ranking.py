"""top_per_key (functions.ranking) against a pure-Python per-key sort."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions import ranking

# a hot key, two cold ones and a null key; small order and id ranges, so
# rows tie on the order and whole rows repeat
ROWS = st.lists(
    st.tuples(
        st.sampled_from(["hot", "hot", "hot", "a", "b", None]),
        st.integers(min_value=0, max_value=6),
        st.integers(min_value=0, max_value=9),
    ),
    max_size=60,
)
PLANTED = (
    [("hot", i % 4, i) for i in range(30)]
    + [(None, 1, 1), (None, 1, 2), (None, 0, 3)]
    + [("a", 2, 7), ("a", 2, 7)]
)


def _reference(rows, limit, dense):
    """(top, rest) as row multisets: each key's rows sorted by the order,
    ranked by row number, or densely with ties sharing a rank. Rows that
    tie under ``row_number`` are whole-row duplicates (the order is the
    full row), so which copy ranks first does not change the multisets."""
    by_key = defaultdict(list)
    for r in rows:
        by_key[r[0]].append(r)
    top, rest = Counter(), Counter()
    for rs in by_key.values():
        if dense:
            ranks = {o: i + 1 for i, o in enumerate(sorted({r[1] for r in rs}))}
            for r in rs:
                (top if ranks[r[1]] <= limit else rest)[r] += 1
        else:
            rs = sorted(rs, key=lambda r: (r[1], r[2]))
            top.update(rs[:limit])
            rest.update(rs[limit:])
    return top, rest


@pytest.mark.parametrize("rank", ["row_number", "dense_rank"])
@given(ROWS, st.integers(min_value=0, max_value=5))
@example(PLANTED, 0)
@example(PLANTED, 2)
@settings(max_examples=8, deadline=None)
def test_top_per_key_matches_scalar_sort(spark, rank, rows, limit):
    """Property: for 1, 4 and 64 salt buckets, ``top`` holds exactly the
    rows ranked <= limit within their key and ``rest`` every other row.
    ``dense_rank`` orders by ``o`` alone, so rows tied on the order (a
    trace's span rows) must rank together; ``row_number`` orders by
    (``o``, ``id``)."""
    dense = rank == "dense_rank"
    df = spark.createDataFrame(rows, "key string, o int, id int")
    order = [F.col("o")] if dense else [F.col("o"), F.col("id")]
    want = _reference(rows, limit, dense)
    for buckets in (1, 4, 64):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ranking, "SALT_BUCKETS", buckets)
            top, rest = ranking.top_per_key(
                df, "key", order, limit, getattr(F, rank)
            )
            both = top.withColumn("_top", F.lit(True)).unionByName(
                rest().withColumn("_top", F.lit(False))
            )
            got = (Counter(), Counter())
            for r in both.collect():
                got[0 if r["_top"] else 1][(r["key"], r["o"], r["id"])] += 1
        assert got == want, buckets
