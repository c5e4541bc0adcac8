"""Fixed-point BM25 retrieval (operators/retrieval.py).

The Spark query and DuckDB oracle share the scoring formula, so (per the
symmetric-bug rule) correctness rests on this independent pure-Python
reference and hand-checkable planted cases.
"""

from collections import Counter

import pytest

from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.retrieval import bm25_topk

DOCS = [
    ("d0", [1, 2, 3, 1]),
    ("d1", [1, 4, 4, 4, 5]),
    ("d2", [2, 3, 6]),
    ("d3", [7, 8]),
    ("d4", [1, 2, 2, 3, 3, 3]),
]
QUERIES = [("q0", [1, 2]), ("q1", [4, 9]), ("q2", [7])]


def _ref(docs, queries, k):
    n = len(docs)
    t = sum(len(toks) for _, toks in docs)
    s = 1 << 20
    dfreq = Counter()
    for _, toks in docs:
        for term in set(toks):
            dfreq[term] += 1
    out = {}
    for qid, qtoks in queries:
        scores = {}
        for did, toks in docs:
            c = Counter(toks)
            dl = len(toks)
            sc, hit = 0, False
            for term in set(qtoks):
                if term in c:
                    hit = True
                    df, tf = dfreq[term], c[term]
                    idf = (s * (2 * n - 2 * df + 1)) // (2 * df + 1)
                    sc += (idf * 44 * t * tf) // (
                        20 * t * tf + 6 * t + 18 * dl * n
                    )
            if hit:
                scores[did] = sc
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for rank, (did, sc) in enumerate(ranked, 1):
            out[(qid, did)] = (sc, rank)
    return out


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id string, tokens array<int>")


@pytest.fixture()
def queries(spark):
    return spark.createDataFrame(QUERIES, "query_id string, tokens array<int>")


def test_bm25_matches_scalar_reference(spark, corpus, queries):
    got = {
        (r["query_id"], r["doc_id"]): (r["score_fp"], r["rank"])
        for r in bm25_topk(corpus, queries, k=3).collect()
    }
    assert got == _ref(DOCS, QUERIES, k=3)


def test_bm25_rare_term_outweighs_common(spark, corpus, queries):
    # term 7 appears only in d3; q2 = [7] must retrieve d3 first and only
    rows = bm25_topk(corpus, queries, k=5).filter(
        F.col("query_id") == "q2"
    ).collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [("d3", 1)]


def test_bm25_no_shared_terms_absent(spark, corpus):
    qs = spark.createDataFrame(
        [("qx", [99, 100])], "query_id string, tokens array<int>"
    )
    assert bm25_topk(corpus, qs, k=5).count() == 0


def test_bm25_empty_corpus_raises(spark):
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>")
    qs = spark.createDataFrame(
        [("q", [1])], "query_id string, tokens array<int>"
    )
    with pytest.raises(ValueError):
        bm25_topk(empty, qs)


def test_bm25_index_search_equals_one_shot(spark, corpus, queries, tmp_path):
    # the standing-index path (one corpus pass, materialized postings)
    # must rank identically to the stateless two-pass one-shot
    from otel_tail_sampler_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    post, ts, stats = bm25_index(corpus, out_dir=str(tmp_path))
    got = {
        (r["query_id"], r["doc_id"]): (r["score_fp"], r["rank"])
        for r in bm25_search(post, ts, stats, queries, k=3).collect()
    }
    assert got == _ref(DOCS, QUERIES, k=3)
    # and the materialization actually landed (search reuses it)
    assert spark.read.parquet(str(tmp_path) + "/postings").count() > 0


def test_bm25_hot_query_topk_is_group_limited(spark):
    # a query whose term matches EVERY corpus doc: the candidate set is
    # the whole corpus — the regime where a naive per-query window would
    # funnel everything through one task. The rank<=k filter must trigger
    # Catalyst's InferWindowGroupLimit so each map partition forwards only
    # its local top-k BEFORE the exchange (bounded final window input),
    # and the result must equal the global (score DESC, doc_id ASC)
    # ranking including cross-partition tie-breaks (planted equal scores).
    docs = [
        (f"d{i:04d}", [1] * (1 + i % 3) + [100 + i]) for i in range(300)
    ]
    qs = [("hot", [1])]
    corpus = spark.createDataFrame(
        docs, "doc_id string, tokens array<int>"
    ).repartition(8)
    queries = spark.createDataFrame(
        qs, "query_id string, tokens array<int>"
    )
    res = bm25_topk(corpus, queries, k=10)
    got = [
        (r["doc_id"], r["score_fp"], r["rank"])
        for r in res.orderBy("rank").collect()
    ]
    ref = _ref(docs, qs, k=10)
    want = sorted(
        ((d, sc, rk) for (_, d), (sc, rk) in ref.items()),
        key=lambda x: x[2],
    )
    assert got == want
    # the partial (pre-shuffle) group limit is the load-bearing node: it
    # appears BELOW the exchange feeding the final window
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_bm25_corpus_side_never_sort_merge_joins(spark, corpus, queries):
    # NO joins and NO aggregation above the scoring kernel — candidates
    # go straight into the bounded window
    plan = (
        bm25_topk(corpus, queries, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "MapInPandas" in plan and "HashAggregate" not in plan


def test_bm25_topk_matches_scalar_reference(spark, corpus, queries):
    # the matched-tf bincount kernel vs the scalar reference at k=5 —
    # full (score, rank) equality over every matching doc of the shared
    # corpus (no-match doc, duplicated tokens)
    got = {
        (r["query_id"], r["doc_id"]): (r["score_fp"], r["rank"])
        for r in bm25_topk(corpus, queries, k=5).collect()
    }
    assert got == _ref(DOCS, QUERIES, k=5) and got


def test_bm25_topk_no_query_terms(spark, corpus):
    qs = spark.createDataFrame(
        [("qe", [])], "query_id string, tokens array<int>"
    )
    assert bm25_topk(corpus, qs, k=3).count() == 0


def test_bm25_k_zero_is_empty(spark, corpus, queries):
    assert bm25_topk(corpus, queries, k=0).count() == 0


def test_bm25_matches_threshold_equals_scored_reference(spark, corpus, queries):
    from otel_tail_sampler_spark.operators.retrieval import bm25_matches

    # reference scores via the scalar formula (all pairs, no rank cut)
    n = len(DOCS)
    t = sum(len(toks) for _, toks in DOCS)
    s = 1 << 20
    dfreq = Counter()
    for _, toks in DOCS:
        for term in set(toks):
            dfreq[term] += 1
    ref_pairs = {}
    for qid, qtoks in QUERIES:
        for did, toks in DOCS:
            c = Counter(toks)
            dl = len(toks)
            sc, hit = 0, False
            for term in set(qtoks):
                if term in c:
                    hit = True
                    df, tf = dfreq[term], c[term]
                    idf = (s * (2 * n - 2 * df + 1)) // (2 * df + 1)
                    sc += (idf * 44 * t * tf) // (
                        20 * t * tf + 6 * t + 18 * dl * n
                    )
            if hit:
                ref_pairs[(qid, did)] = sc
    bar = sorted(ref_pairs.values())[len(ref_pairs) // 2]  # a real cut
    want = {kv for kv in ref_pairs.items() if kv[1] >= bar}
    got = {
        ((r["query_id"], r["doc_id"]), r["score_fp"])
        for r in bm25_matches(corpus, queries, min_score_fp=bar).collect()
    }
    assert got == want


def test_bm25_oversize_document_routes_to_index(spark):
    # a 2^21-token document overflows the one-shot kernel's triple pack:
    # bm25_topk must refuse it with a message naming the escape route,
    # and bm25_index + bm25_search (no length limit) must rank the corpus
    from otel_tail_sampler_spark.operators.retrieval import (
        bm25_index,
        bm25_search,
    )

    n = 1 << 21
    big = spark.range(1).select(
        F.lit("big").alias("doc_id"),
        F.array_repeat(F.lit(1), n).alias("tokens"),
    )
    small = spark.createDataFrame(
        [("small", [1, 2])], "doc_id string, tokens array<int>"
    )
    corpus = big.unionByName(small)
    qs = [("q", [1])]
    queries = spark.createDataFrame(qs, "query_id string, tokens array<int>")
    with pytest.raises(Exception, match="bm25_index \\+ bm25_search"):
        bm25_topk(corpus, queries, k=2).collect()
    post, ts, stats = bm25_index(corpus)
    got = {
        (r["query_id"], r["doc_id"]): (r["score_fp"], r["rank"])
        for r in bm25_search(post, ts, stats, queries, k=2).collect()
    }
    assert stats == (2, n + 2)
    assert got == _ref([("big", [1] * n), ("small", [1, 2])], qs, k=2)
    assert len(got) == 2
