"""Similarity search over embedding columns (ANN for training pipelines).

Two tiers:

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query set
  against the corpus, score JVM-side (zip_with/aggregate — no Python), rank
  with a per-query window. Correctness baseline; linear scans of the corpus
  are actually fine at 100 TB IF the query set is small and broadcast.
* ``with_bucket`` / ``lsh_topk`` — the scale path: sign-random-
  projection LSH. Deterministic hyperplanes (seeded numpy) ship as literals;
  corpus and queries hash to sign-bit buckets map-side; candidates = bucket
  collisions, then exact re-rank. Shuffle is bucket-sized, never all-pairs.

IVF (k-means coarse quantizer) would be the third tier; hyperplane-LSH was
chosen because it needs no training pass and stays fully deterministic.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.dedup import cosine_sim


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k neighbors per query. Queries are broadcast; ties broken by
    corpus id for determinism."""
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    corpus = spread_small_input(corpus)  # dot products run pre-exchange
    c = corpus.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("_cv")
    )
    q = queries.select(F.col("query_id"), F.col("query_vec").alias("_qv"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", cosine_sim(F.col("_cv"), F.col("_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (public scheme: sign random
    projection / SimHash for cosine, Charikar 2002)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _sign_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket key: concatenated sign bits of <vec, plane_i>."""
    bits = []
    for p in planes:
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda x, y: (x * y).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def with_bucket(df: DataFrame, vec_col: str, planes: list[list[float]]) -> DataFrame:
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    # the per-vector plane dot products run pre-exchange: widen small inputs
    return spread_small_input(df).withColumn(
        "bucket", _sign_bits(F.col(vec_col), planes)
    )


def ivf_centroids(
    emb_sample: "np.ndarray", n_clusters: int = 16
) -> list[list[float]]:
    """Deterministic mini k-means on a driver-side SAMPLE (the IVF training
    pass — at 100 TB you train on a few hundred thousand sampled vectors,
    never the corpus). Returns L2-normalized centroids."""
    rng = np.random.Generator(np.random.PCG64(42))
    x = emb_sample / np.maximum(np.linalg.norm(emb_sample, axis=1, keepdims=True), 1e-9)
    c = x[rng.choice(len(x), size=n_clusters, replace=False)]
    for _ in range(5):
        sims = x @ c.T
        assign = sims.argmax(axis=1)
        for k in range(n_clusters):
            members = x[assign == k]
            if len(members):
                c[k] = members.mean(axis=0)
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-9)
    return c.round(6).tolist()


def _nearest_clusters(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """array of the n nearest centroid ids by dot product (JVM expressions)."""
    scored = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: a.cast("double") * b.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("dot"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    return F.transform(top, lambda s: s.getField("cid"))


# ivf_build trains its centroids on at most this many sampled vectors
IVF_TRAIN_SAMPLE = 4096


def ivf_build(
    corpus: DataFrame, n_clusters: int = 16
) -> tuple[list[list[float]], DataFrame]:
    """Build the IVF index ONCE: train centroids on a deterministic sample
    and assign every corpus vector to its inverted list.

    -> (centroids, assigned) where ``assigned`` is
    (corpus_id, _cv, cluster). At 100 TB this is the pass you MATERIALIZE
    (write ``assigned`` partitioned by cluster; persist the centroid list
    alongside) so every query batch after pays only the probe join —
    retraining per search, as the one-shot ivf_topk does, re-reads the
    corpus every call. Sizing the sample costs one count() action."""
    # seeded RANDOM sample (limit() would take the first partitions only —
    # on a clustered/sorted corpus the centroids would learn one shard's
    # distribution). Oversample the fraction so the post-sample limit is a
    # trim, not a truncation of one partition.
    n_corpus = corpus.count()
    fraction = min(1.0, (IVF_TRAIN_SAMPLE * 1.3) / max(n_corpus, 1))
    sample = np.array(
        [
            r[0]
            for r in corpus.select("embedding")
            .sample(fraction=fraction, seed=42)
            .limit(IVF_TRAIN_SAMPLE)
            .collect()
        ],
        dtype=np.float64,
    )
    if len(sample) < max(n_clusters, 1):
        # probabilistic sampling can undershoot at tiny fractions (or the
        # corpus is just small): deterministic fallback rather than handing
        # k-means an empty/short (or mis-shaped empty) array
        sample = np.array(
            [
                r[0]
                for r in corpus.select("embedding").limit(IVF_TRAIN_SAMPLE).collect()
            ],
            dtype=np.float64,
        )
    if len(sample) == 0:
        raise ValueError("ivf_build: corpus is empty — nothing to train on")
    cents = ivf_centroids(sample, n_clusters=min(n_clusters, len(sample)))

    from otel_tail_sampler_spark.functions.spread import spread_small_input

    assigned = spread_small_input(corpus).select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("_cv")
    ).withColumn("cluster", _nearest_clusters(F.col("_cv"), cents, 1)[0])
    return cents, assigned


def ivf_search(
    centroids: list[list[float]],
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Search a built IVF index: probe the ``nprobe`` nearest inverted
    lists per query, exact re-rank within them. ``assigned`` may be the
    live DataFrame from ivf_build or a re-read of its materialized form
    (a scan partitioned by ``cluster`` prunes to the probed lists)."""
    q = queries.select(
        F.col("query_id"), F.col("query_vec").alias("_qv")
    ).withColumn(
        "cluster", F.explode(_nearest_clusters(F.col("_qv"), centroids, nprobe))
    )
    scored = assigned.join(F.broadcast(q), "cluster").withColumn(
        "cosine", cosine_sim(F.col("_cv"), F.col("_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """One-shot IVF approximate top-k: ivf_build + ivf_search in one call.
    For repeated query batches over the same corpus, call ivf_build once
    (materialize the assignment) and ivf_search per batch instead —
    retraining per call is the scale anti-pattern this split removes.

    Scale shape: one narrow pass assigns every corpus vector to a cluster
    (centroids are literals — broadcast-free), the probe join is on the
    cluster id (shuffle bounded by candidate volume ~ nprobe/n_clusters of the
    corpus), and recall grows with nprobe. Train sample is collected once."""
    cents, assigned = ivf_build(corpus, n_clusters=n_clusters)
    return ivf_search(cents, assigned, queries, k=k, nprobe=nprobe)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: exact re-rank within hyperplane buckets.

    Recall < 1.0 by construction (single probe); raise recall with fewer
    planes (bigger buckets) or multiple plane sets unioned. The join is on
    the bucket key — corpus never self-joins, queries broadcast."""
    planes = hyperplanes(dim, n_planes)
    c = with_bucket(
        corpus.select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("_cv")
        ),
        "_cv",
        planes,
    )
    q = with_bucket(
        queries.select(F.col("query_id"), F.col("query_vec").alias("_qv")),
        "_qv",
        planes,
    )
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "cosine", cosine_sim(F.col("_cv"), F.col("_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization (the standard linear
    scheme, cf. Jacob et al. 2018):
    -> (id, qvec array<int> in [-127, 127], scale double) with
    scale = max(|v|) / 127 and q_i = round(v_i / scale) (HALF_UP — Spark
    and DuckDB agree); an all-zero or empty vector gets scale 0.0 and an
    all-zero qvec. v_i ~= q_i * scale reconstructs to within scale/2.

    This is the storage/compute scale path for ANN at 100 TB: 4x smaller
    vectors, and downstream scoring (quantized_topk) runs on EXACT integer
    dot products — bit-reproducible across engines, unlike float32
    accumulation whose order matters. Engine parity: float32 -> double
    casts are exact, / and round(d) are correctly-rounded IEEE, so the
    DuckDB oracle replays quantization bit-for-bit.

    Scan-time projection, no shuffle. The transform lambda divides by the
    outer scale expression; with 64-dim vectors the worst-case re-eval is
    O(d^2)=4k flops per row — irrelevant next to the scan. (See the HOF
    re-evaluation trap in functions/spread.py's module notes.)
    """
    v = F.col("embedding")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax.cast("double") / F.lit(127.0)
    q = F.when(
        amax > 0,
        F.transform(
            v, lambda x: F.round(x.cast("double") / scale).cast("int")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col("vec_id"),
        q.alias("qvec"),
        F.when(amax > 0, scale).otherwise(F.lit(0.0)).alias("scale"),
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two int arrays (engine-reproducible:
    every partial sum is an exact integer, so accumulation order cannot
    round — the property float32 dots lack)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus_q: DataFrame,
    queries_q: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k over int8-quantized vectors (quantize_embeddings
    output on both sides): qcos = int_dot(qc, qq) / (sqrt(|qc|^2) *
    sqrt(|qq|^2)), ranked (qcos DESC, corpus_id ASC) per query.
    -> (query_id, corpus_id, qcos, rank).

    Approximation lives ONLY in the quantization (qcos -> cosine as the
    int8 grid refines); the scoring itself is exact integer arithmetic
    plus correctly-rounded sqrt/divide, so the ranking is deterministic
    and the DuckDB oracle matches bit-for-bit — unlike float32 cosine
    where sum order shifts the last ulp.

    Scale shape: mirrors cosine_topk — squared norms precomputed per side
    (one pass), the small query side broadcast, per-query top-k window.
    Quantize the corpus ONCE, store qvec+scale columns, and amortize
    across query batches.
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    c = spread_small_input(corpus_q).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("qvec").alias("_cq"),
        _int_dot(F.col("qvec"), F.col("qvec")).alias("_cc"),
    )
    q = queries_q.select(
        F.col(query_id).alias("query_id"),
        F.col("qvec").alias("_qq"),
        _int_dot(F.col("qvec"), F.col("qvec")).alias("_q2"),
    )
    dot = _int_dot(F.col("_cq"), F.col("_qq"))
    scored = c.join(F.broadcast(q)).withColumn(
        "qcos",
        F.when(
            (F.col("_cc") > 0) & (F.col("_q2") > 0),
            dot.cast("double")
            / (F.sqrt(F.col("_cc").cast("double")) * F.sqrt(F.col("_q2").cast("double"))),
        ).otherwise(F.lit(0.0)),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "qcos", "rank")
    )
