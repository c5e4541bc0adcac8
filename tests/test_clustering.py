"""Integer-exact k-means + SemDeDup (operators/clustering.py).

The Spark query and the DuckDB oracle share the quantize->assign->update
formulas, so (per the symmetric-bug rule) correctness here rests on
hand-computed planted cases and an independent pure-Python reference, not
just the oracle hash.
"""

import pytest

from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators import clustering
from otel_tail_sampler_spark.operators.clustering import (
    _tdiv,
    kmeans_assign,
    kmeans_fit,
    kmeans_quantized,
    semantic_dedup,
)


def _qdf(spark, vecs):
    return spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, qvec array<int>",
    )


def _ref_kmeans(vecs, k, iters):
    """Independent scalar reference of the documented algorithm."""
    cents = [list(v) for v in vecs[:k]]
    for _ in range(iters):
        assign = []
        for v in vecs:
            dists = [
                sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents
            ]
            assign.append(dists.index(min(dists)))  # ties -> lowest index
        nxt = [list(c) for c in cents]
        for j in range(k):
            members = [v for v, a in zip(vecs, assign) if a == j]
            if members:
                nxt[j] = [
                    _tdiv(sum(col), len(members)) for col in zip(*members)
                ]
        cents = nxt
    return cents


def test_tdiv_truncates_toward_zero():
    # must match Spark div and DuckDB // (Python // floors and diverges)
    assert _tdiv(7, 2) == 3
    assert _tdiv(-7, 2) == -3
    assert _tdiv(-1, 3) == 0


def test_kmeans_matches_scalar_reference(spark):
    # deterministic pseudo-random int8 vectors, incl. negatives
    vecs = [
        [((i * 37 + d * 101 + 13) % 255) - 127 for d in range(6)]
        for i in range(60)
    ]
    df = _qdf(spark, vecs)
    cents = kmeans_fit(df, k=4, iters=3)
    assert cents == _ref_kmeans(vecs, k=4, iters=3)

    got = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in kmeans_assign(df, cents).collect()
    }
    for i, v in enumerate(vecs):
        dists = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
        assert got[i] == (dists.index(min(dists)), min(dists))


def test_kmeans_tie_breaks_to_lowest_cluster(spark):
    # [1,0] is equidistant from init centroids [0,0] and [2,0]
    df = _qdf(spark, [[0, 0], [2, 0], [1, 0]])
    out = {r["vec_id"]: r["cluster"] for r in kmeans_quantized(df, k=2, iters=0).collect()}
    assert out[2] == 0


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # all points identical: everything ties to cluster 0, cluster 1 goes
    # empty on the first update and must keep its init centroid
    df = _qdf(spark, [[3, 3]] * 5)
    cents = kmeans_fit(df, k=2, iters=2)
    assert cents == [[3, 3], [3, 3]]
    rows = kmeans_assign(df, cents).collect()
    assert {r["cluster"] for r in rows} == {0}
    assert all(r["dist2"] == 0 for r in rows)


def test_kmeans_rejects_empty_input(spark):
    with pytest.raises(ValueError):
        kmeans_fit(_qdf(spark, []), k=2)


def test_semantic_dedup_planted(spark):
    # id 0: anchor; id 1: orthogonal; id 2: exact dup of 0; id 3: near-dup
    # of 0 (cos ~0.9987); id 4: zero vector (no direction, never dropped).
    # init centroids = ids 0,1 so the two directions separate cleanly.
    vecs = [[100, 0], [0, 100], [100, 0], [99, 5], [0, 0]]
    df = _qdf(spark, vecs)
    out = semantic_dedup(df, k=2, iters=1, tau=(19, 20))
    kept = sorted(r["vec_id"] for r in out.collect())
    assert kept == [0, 1, 4]


def test_semantic_dedup_below_threshold_kept(spark):
    # cos([100,0],[70,70]) = 0.707 < 0.95 -> both survive
    df = _qdf(spark, [[100, 0], [70, 70]])
    out = semantic_dedup(df, k=1, iters=1, tau=(19, 20))
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 1]


def test_semantic_dedup_leaves_no_cached_frame(spark):
    """The frame semantic_dedup reuses three times lives as long as the
    frame it returns: running the result registers nothing with the
    session's CacheManager, which would otherwise hold it until the
    session ends."""
    spark.catalog.clearCache()
    vecs = [[100, 0], [0, 100], [100, 0], [99, 5], [0, 0]]
    out = semantic_dedup(_qdf(spark, vecs), k=2, iters=1, tau=(19, 20))
    assert sorted(r["vec_id"] for r in out.collect()) == [0, 1, 4]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_kmeans_assign_plan_is_pure_projection(spark):
    df = _qdf(spark, [[1, 2], [3, 4], [5, 6]])
    plan = kmeans_assign(df, [[1, 2], [3, 4]])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_kmeans_large_k_matches_scalar_reference(spark):
    # the SemDeDup operating point needs k far beyond literal-inlining:
    # the broadcast-argmin kernel must stay exact at k >= 256
    vecs = [
        [((i * 53 + d * 97 + 7) % 255) - 127 for d in range(6)]
        for i in range(300)
    ]
    df = _qdf(spark, vecs).repartition(8)
    cents = kmeans_fit(df, k=256, iters=1)
    assert cents == _ref_kmeans(vecs, k=256, iters=1)
    got = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in kmeans_assign(df, cents).collect()
    }
    for i, v in enumerate(vecs):
        dists = [sum((a - b) * (a - b) for a, b in zip(v, c)) for c in cents]
        assert got[i] == (dists.index(min(dists)), min(dists))


def test_kmeans_assign_plan_size_independent_of_k(spark):
    # centroids ride a broadcast variable, not plan literals: the plan
    # must not grow with k (the round-4 scale ceiling this replaces)
    df = _qdf(spark, [[1, 2], [3, 4], [5, 6]])
    p8 = kmeans_assign(df, [[i, i] for i in range(8)])._jdf.queryExecution().executedPlan().toString()
    p512 = kmeans_assign(df, [[i, i] for i in range(512)])._jdf.queryExecution().executedPlan().toString()
    assert abs(len(p512) - len(p8)) < 200


def test_kmeans_rejects_ragged_vectors(spark):
    df = spark.createDataFrame(
        [(0, [1, 2]), (1, [1, 2, 3])], "vec_id bigint, qvec array<int>"
    )
    with pytest.raises(Exception, match="dim"):
        kmeans_assign(df, [[0, 0]]).collect()


def test_semantic_dedup_anchor_cap_bounds_hot_cluster(spark, monkeypatch):
    # degenerate cluster: 200 near-identical vectors all land in one
    # cluster — uncapped fanout is |C|^2; the anchor cap keeps the exact
    # answer here (every member is a near-dup of anchor id 0)
    monkeypatch.setattr(clustering, "MAX_CLUSTER_ANCHORS", 8)
    vecs = [[100, 1]] * 200
    df = _qdf(spark, vecs)
    out = semantic_dedup(df, k=1, iters=1, tau=(19, 20))
    assert sorted(r["vec_id"] for r in out.collect()) == [0]


def test_semantic_dedup_default_path_is_capped(spark):
    # VERDICT r5 #3: the DEFAULT must bound the degenerate hot cluster —
    # 300 near-identical vectors (> the 256 default cap) in one cluster.
    # The anchor window must appear in the default plan, and the answer
    # here is still exact (every member near-dups anchor id 0).
    vecs = [[100, 1]] * 300
    df = _qdf(spark, vecs)
    out = semantic_dedup(df, k=1, iters=1, tau=(19, 20))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2  # rank<=256 two-phased
    assert sorted(r["vec_id"] for r in out.collect()) == [0]


def test_semantic_dedup_cap_is_exact_at_or_under_cap(spark, monkeypatch):
    # cluster sizes <= cap: capped result must equal the exact all-pairs
    # result (every pair's smaller id is inside the anchor set)
    vecs = [[100, 0], [0, 100], [100, 0], [99, 5], [0, 0]]
    df = _qdf(spark, vecs)
    exact = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, k=2, iters=1, tau=(19, 20)).collect()
    )
    monkeypatch.setattr(clustering, "MAX_CLUSTER_ANCHORS", 5)
    capped = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, k=2, iters=1, tau=(19, 20)).collect()
    )
    assert capped == exact == [0, 1, 4]


def test_semantic_dedup_cap_plan_two_phase_window(spark, monkeypatch):
    # the anchor rank<=cap window must two-phase via InferWindowGroupLimit
    # (partial group limit below the exchange — no hot-key single task)
    monkeypatch.setattr(clustering, "MAX_CLUSTER_ANCHORS", 4)
    df = _qdf(spark, [[i, i + 1] for i in range(8)])
    plan = (
        semantic_dedup(df, k=2, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("WindowGroupLimit") >= 2


def test_semantic_dedup_plan_no_cartesian(spark):
    df = _qdf(spark, [[i, i + 1] for i in range(8)])
    plan = (
        semantic_dedup(df, k=2, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_driver_and_distributed_fit_agree(spark, monkeypatch):
    # the small-input driver-side Lloyd's (round-7 fast path) must be
    # bit-identical to the distributed partial-sum path on the same input
    vecs = [
        [((i * 53 + d * 89 + 7) % 255) - 127 for d in range(5)]
        for i in range(80)
    ]
    df = _qdf(spark, vecs)
    driver_c = kmeans_fit(df, k=5, iters=3)  # 80 <= DRIVER_FIT_THRESHOLD
    monkeypatch.setattr(clustering, "DRIVER_FIT_THRESHOLD", 0)
    dist_c = kmeans_fit(df, k=5, iters=3)
    assert driver_c == dist_c == _ref_kmeans(vecs, k=5, iters=3)


def test_kmeans_distributed_fit_edge_cases(spark, monkeypatch):
    # the distributed path must keep the planted edge semantics too
    # (tie -> lowest cluster, empty cluster keeps its init centroid)
    monkeypatch.setattr(clustering, "DRIVER_FIT_THRESHOLD", 0)
    df = _qdf(spark, [[3, 3]] * 5)
    assert kmeans_fit(df, k=2, iters=2) == [[3, 3], [3, 3]]
    with pytest.raises(ValueError):
        kmeans_fit(_qdf(spark, []), k=2)


def _ref_semantic_dedup(vecs, clusters, tau):
    """Scalar SemDeDup drop rule: within a cluster, drop id b iff some
    smaller id a has dot(a, b) > 0 and den^2*dot^2 >= num^2*|a|^2*|b|^2
    (exact Python ints; zero vectors never match). -> survivors as
    sorted (id, cluster)."""
    num, den = tau
    n2 = [sum(x * x for x in v) for v in vecs]
    dropped = set()
    for b in range(len(vecs)):
        for a in range(b):
            if clusters[a] != clusters[b] or not (n2[a] and n2[b]):
                continue
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            if dot > 0 and den * den * dot * dot >= num * num * n2[a] * n2[b]:
                dropped.add(b)
    return sorted(
        (i, clusters[i]) for i in range(len(vecs)) if i not in dropped
    )


def test_semantic_dedup_matches_scalar_reference(spark):
    # the vectorized pair scorer's drop set equals the exact cosine test
    # over every same-cluster pair of the kmeans_assign clusters, on
    # planted near-dups plus a zero vector
    vecs = [[10, 0], [0, 10], [10, 1], [9, 0], [0, 0], [5, 5], [10, 2]]
    df = _qdf(spark, vecs)
    assign = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, kmeans_fit(df, k=2, iters=1)).collect()
    }
    got = sorted(
        (r["vec_id"], r["cluster"])
        for r in semantic_dedup(df, k=2, iters=1, tau=(19, 20)).collect()
    )
    want = _ref_semantic_dedup(
        vecs, [assign[i] for i in range(len(vecs))], (19, 20)
    )
    assert got == want
    assert len(want) < len(vecs)  # the planted near-dups really drop
