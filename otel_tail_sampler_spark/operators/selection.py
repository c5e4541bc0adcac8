"""Importance-based data selection (DSIR family) in exact integer math.

Implements the hashed n-gram importance-resampling scheme of DSIR
("Data Selection for Language Models via Importance Resampling",
Xie et al., NeurIPS 2023) over the tokenized corpus shape: adjacent
token bigrams are hashed into ``n_buckets`` feature buckets, a bag-of-
buckets unigram model is estimated for a small TARGET (domain) corpus
and for the large RAW corpus, and each raw document is scored by how
much more likely its feature bag is under the target model than under
the raw model. High-scoring documents are the ones worth keeping when
the training budget is a fraction of the crawl.

Cross-engine-exact formulation: DSIR's log importance weight
``sum_f c_f * (log p_t[f] - log p_r[f])`` is a transcendental — no log
is bit-reproducible across Spark / numpy / DuckDB — so, exactly like
``score_bigram_novelty`` (the module family's perplexity stand-in) and
fixed-point BM25, the operator reports the exact integer sufficient
statistics and an exact fixed-point LINEAR likelihood ratio:

    target_mass = sum over doc bigrams of (t_f + 1)     (add-one smoothed)
    raw_mass    = sum over doc bigrams of (r_f + 1)
    ratio_fp    = (S * target_mass * (R + B)) div (raw_mass * (T + B))

with S = 2^DSIR_SCALE_BITS, B = n_buckets, T / R the target / raw corpus
bigram totals — i.e. the arithmetic-mean likelihood ratio
``(sum_f c_f p_t[f]) / (sum_f c_f p_r[f])`` in fixed point, a monotone
domain-affinity signal computed entirely in integers (intermediates
ride DECIMAL(38,0), exact to T,R ~ 1e12 features at the default
scale). Documents with no bigram features score the neutral S (=1.0).
The deterministic top-k of ``dsir_select`` replaces DSIR's seeded
Gumbel resampling — the sandbox contract is bit-reproducible output;
a caller that wants sampled diversity can rank on
``ratio_fp``-weighted ``hash_frac`` keys instead.

Scale shape (100 TB posture):
* ``build_dsir_model`` — output bounded by ``n_buckets`` (default
  2^16), NOT corpus size: a bincount partial-aggregate Arrow stage
  (each partition emits at most ``n_buckets`` partial rows; the merge
  groupBy shuffles only those) — measured 2x an explode +
  map-combinable agg build at sf0.1, whose interpreted ``zip_with``
  bigram HOF dominated the DAG.
* ``dsir_score`` — shuffle-free: the bucket model broadcasts as two
  dense numpy arrays (8 B * n_buckets each) into a batch-vectorized
  Arrow kernel (one concatenate + modulo + gather + reduceat per Arrow
  batch — the ``score_bigram_novelty`` kernel shape); the corpus
  crosses the socket once and never shuffles, and no per-pair row is
  ever materialized.
* ``dsir_select`` — TakeOrderedAndProject on the bounded k.

Reference parity: the reference engine has no selection tier; this is
part of the training-data extension (DSIR: Xie et al. 2023).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.hashing import hash_key

_DEFAULT_BUCKETS = 1 << 16
# fixed-point scale of the DSIR importance ratio: S = 2^DSIR_SCALE_BITS is 1.0
DSIR_SCALE_BITS = 20


def _bucket_counts_arrow(flagged: DataFrame, n_buckets: int) -> DataFrame:
    """Shared Arrow model-build kernel: input is (``_is_t`` boolean,
    ``tokens``); output (bucket int, t_freq bigint, r_freq bigint) with
    ``r_freq`` counting EVERY row's bigrams and ``t_freq`` only the
    flagged rows'. Per Arrow batch: one flat packed-pair stream
    (``_batch_bigram_pairs``), a modulo, and two ``np.bincount`` calls —
    the per-partition partial is a dense ``n_buckets`` accumulator, so
    each partition emits at most ``n_buckets`` rows no matter how much
    corpus it read, and the merging groupBy shuffles only those
    (partitions x nonzero-buckets) partials. The corpus crosses the
    socket once and no interpreted ``zip_with`` bigram HOF runs (in an
    explode-based build it was the dominant cost of the whole selection
    DAG at sf0.1: ~2.5 s of dsir_select's ~3.6 s)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    nb = int(n_buckets)

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from otel_tail_sampler_spark.operators.corpus import (
            _batch_bigram_pairs,
        )

        tcnt = np.zeros(nb, np.int64)
        rcnt = np.zeros(nb, np.int64)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            if int(lens.sum()) < 2:
                continue
            pairs, cross, _starts, nz = _batch_bigram_pairs(arrs, lens)
            bk = pairs % np.int64(nb)
            # attribute each pair slot to the doc holding its FIRST
            # token: doc i owns flat slots [cum[i-1], cum[i]) minus the
            # final cross slot (masked below); the last doc has no
            # trailing slot at all
            counts = lens[nz].copy()
            counts[-1] -= 1
            is_t = pdf["_is_t"].to_numpy(bool)[nz]
            tgt = np.repeat(is_t, counts)
            keep = ~cross
            rcnt += np.bincount(bk[keep], minlength=nb)
            tcnt += np.bincount(bk[keep & tgt], minlength=nb)
        hit = np.nonzero(rcnt | tcnt)[0]
        if hit.size:
            yield pd.DataFrame(
                {
                    "bucket": hit.astype(np.int32),
                    "t_freq": tcnt[hit],
                    "r_freq": rcnt[hit],
                }
            )

    # NULL predicate -> not-target, like SQL's when(_is_t, 1).otherwise(0)
    # (a None reaching np.repeat would raise)
    partials = flagged.select(
        F.coalesce(F.col("_is_t").cast("boolean"), F.lit(False)).alias(
            "_is_t"
        ),
        F.col("tokens"),
    ).mapInPandas(fn, "bucket int, t_freq long, r_freq long")
    return partials.groupBy("bucket").agg(
        F.sum("t_freq").cast("long").alias("t_freq"),
        F.sum("r_freq").cast("long").alias("r_freq"),
    )


def build_dsir_model(
    target: DataFrame, raw: DataFrame, n_buckets: int = _DEFAULT_BUCKETS
) -> DataFrame:
    """Hashed-bigram bucket counts for both corpora:
    -> (bucket int, t_freq bigint, r_freq bigint), one row per bucket
    observed in EITHER corpus (absent side 0). Output cardinality is
    bounded by ``n_buckets``; totals ``T = sum(t_freq)`` /
    ``R = sum(r_freq)`` are recoverable from the model itself, which is
    how ``dsir_score`` avoids extra corpus passes.

    Runs the bincount partial-aggregate kernel (see
    ``_bucket_counts_arrow``). The two corpora union under a flag so
    the build stays ONE pass; a target document also present in
    ``raw`` is counted on both sides."""
    flagged = target.select(
        F.lit(True).alias("_is_t"), F.col("tokens")
    ).unionByName(
        raw.select(F.lit(False).alias("_is_t"), F.col("tokens"))
    )
    counts = _bucket_counts_arrow(flagged, n_buckets)
    # the union double-counts nothing: t_freq comes from flagged
    # rows only, r_freq needs the raw-side rows only
    return counts.select(
        "bucket",
        "t_freq",
        (F.col("r_freq") - F.col("t_freq")).alias("r_freq"),
    ).where((F.col("t_freq") > 0) | (F.col("r_freq") > 0))


def _model_arrays(model: DataFrame, n_buckets: int):
    import numpy as np

    mpdf = model.select("bucket", "t_freq", "r_freq").toPandas()
    tf = np.zeros(n_buckets, np.int64)
    rf = np.zeros(n_buckets, np.int64)
    b = mpdf["bucket"].to_numpy(np.int64)
    tf[b] = mpdf["t_freq"].to_numpy(np.int64)
    rf[b] = mpdf["r_freq"].to_numpy(np.int64)
    return tf, rf


def dsir_score(
    df: DataFrame,
    model: DataFrame,
    n_buckets: int = _DEFAULT_BUCKETS,
    keep_cols: tuple = (),
) -> DataFrame:
    """Score each document against a built DSIR model:
    -> (id, *keep_cols, n_feat int, target_mass bigint, raw_mass bigint,
    ratio_fp bigint). See the module docstring for the exact formula.
    ``keep_cols`` ride through the scoring stage unchanged (payload
    pass-through for pipeline/streaming composition — the kernel echoes
    them per batch).

    Streaming: the kernel is a STATELESS map, legal in a streaming plan
    when ``model`` is a batch DataFrame (collected at composition time)
    — run_prep_stream's DSIR gate uses exactly this.

    Determinism precondition (shared with ``score_bigram_novelty``):
    the model is materialized once (collect/broadcast) and scoring runs
    in a later job; the model input must not mutate in between."""
    s = 1 << DSIR_SCALE_BITS

    from typing import Iterator

    import numpy as np
    import pandas as pd

    # ONE model materialization: the totals are sums of the collected
    # arrays — a second model.agg job would re-run the un-persisted
    # model lineage (a full corpus pass for the standard builders)
    tf, rf = _model_arrays(model, n_buckets)
    t_total, r_total = int(tf.sum()), int(rf.sum())
    b = df.sparkSession.sparkContext.broadcast((tf, rf))

    def fn(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        # the score_bigram_novelty batch kernel with a dense gather
        # in place of searchsorted (buckets are 0..B-1 by
        # construction); flat-stream segmentation shared via
        # _batch_bigram_pairs/_segment_sums.
        from otel_tail_sampler_spark.operators.corpus import (
            _batch_bigram_pairs,
            _segment_sums,
        )

        vtf, vrf = b.value
        nb = np.int64(len(vtf))
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            nfe = np.maximum(lens - 1, 0)
            tm = np.zeros(n, np.int64)
            rm = np.zeros(n, np.int64)
            if int(lens.sum()) >= 2:
                pairs, cross, starts, nz = _batch_bigram_pairs(
                    arrs, lens
                )
                bk = pairs % nb  # numpy %: sign of divisor, == pmod
                tm = _segment_sums(vtf[bk] + 1, cross, starts, nfe, nz)
                rm = _segment_sums(vrf[bk] + 1, cross, starts, nfe, nz)
            out = {"doc_id": pdf["doc_id"]}
            for c in keep_cols:
                out[c] = pdf[c]
            out["n_feat"] = nfe.astype(np.int32)
            out["target_mass"] = tm
            out["raw_mass"] = rm
            yield pd.DataFrame(out)

    typ = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    keep_ddl = "".join(f", {c} {typ[c]}" for c in keep_cols)
    in_cols = ["doc_id", *keep_cols]
    if "tokens" not in in_cols:  # tokens may already ride keep_cols
        in_cols.append("tokens")
    stats = df.select(*[F.col(c) for c in in_cols]).mapInPandas(
        fn,
        f"doc_id {typ['doc_id']}{keep_ddl}, n_feat int,"
        " target_mass long, raw_mass long",
    )

    # fixed-point ratio: intermediates exceed int64 (S * mass * (R+B)),
    # ride DECIMAL(38,0) exactly as BM25's scorer does; operands are
    # non-negative so Spark's truncating `div` == floor == DuckDB `//`.
    ratio = F.expr(
        f"CAST({s} AS DECIMAL(38,0)) * target_mass * {r_total + n_buckets}"
        f" div (CAST(raw_mass AS DECIMAL(38,0))"
        f"      * {t_total + n_buckets})"
    )
    return stats.select(
        "doc_id",
        *keep_cols,
        "n_feat",
        "target_mass",
        "raw_mass",
        F.when(F.col("n_feat") > 0, ratio.cast("bigint"))
        .otherwise(F.lit(s).cast("bigint"))
        .alias("ratio_fp"),
    )


def dsir_select(
    df: DataFrame, model: DataFrame, k: int, n_buckets: int = _DEFAULT_BUCKETS
) -> DataFrame:
    """Deterministic importance selection: the ``k`` most target-like
    documents by ``ratio_fp`` (ties to the smaller id):
    -> (id, n_feat, target_mass, raw_mass, ratio_fp, rank int).

    The sort-limit compiles to TakeOrderedAndProject (per-partition
    top-k, then one bounded merge — nothing corpus-sized sorts); the
    rank window runs over the k survivors only."""
    scored = dsir_score(df, model, n_buckets=n_buckets)
    top = scored.orderBy(F.desc("ratio_fp"), F.asc("doc_id")).limit(int(k))
    w = Window.orderBy(F.desc("ratio_fp"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def dsir_sample(
    df: DataFrame,
    model: DataFrame,
    rate: float,
    n_buckets: int = _DEFAULT_BUCKETS,
    keep_cols: tuple = (),
) -> DataFrame:
    """DSIR's importance RESAMPLING as a deterministic weighted Bernoulli
    keep: document kept with probability ``min(1, rate * w)`` where
    ``w = ratio_fp / S`` is the fixed-point importance ratio — so the
    expected corpus composition matches importance resampling while the
    keep decision stays a pure function of the data (md5 acceptance
    test, the hash-sampling recipe every sampler in this repo uses).
    ``dsir_select`` is the rank-deterministic top-k variant; this one
    preserves diversity the way the paper's sampler does (high-ratio
    docs are near-certain keeps, low-ratio docs survive at a rate
    proportional to their ratio rather than being cut at a threshold).

    Exact-integer acceptance: keep iff
    ``hash32 * S * 2^20 < ratio_fp * round(rate * 2^20) * 2^32``
    with ``hash32 = int(md5(doc_id|'dsir')[:8], 16)``. The min(1, .) clamp is
    made EXPLICIT as a short-circuit disjunct — ``ratio_fp >=
    ceil(S * 2^20 / r_fp)`` keeps the row outright — because it also
    bounds the product comparison: the right side only evaluates below
    the threshold, so both sides stay under ``S * 2^52`` and the
    DECIMAL(38,0) arithmetic can never overflow to NULL (a NULL filter
    would silently DROP exactly the most target-like documents at high
    rates — the inverse of the intent; a planted saturation test pins
    this). Both engines compare identically; keep sets are NESTED in
    ``rate``: raising the rate only adds documents.

    -> the surviving rows of ``dsir_score``'s output (same columns).
    Scale shape: identical to dsir_score (shuffle-free broadcast
    kernel) plus one codegen filter — nothing new moves.
    """
    if rate < 0:
        raise ValueError("rate must be >= 0")
    s = 1 << DSIR_SCALE_BITS
    r_fp = int(round(rate * (1 << 20)))
    scored = dsir_score(df, model, n_buckets=n_buckets, keep_cols=keep_cols)
    h32 = F.conv(
        F.substring(hash_key(F.col("doc_id").cast("string"), "dsir"), 1, 8),
        16,
        10,
    ).cast("long")
    cond = F.expr(
        f"CAST(_h32 AS DECIMAL(38,0)) * {s * (1 << 20)}"
        f" < CAST(ratio_fp AS DECIMAL(38,0))"
        f"   * {r_fp * 4294967296}"
    )
    if r_fp > 0:
        # the saturation threshold: p >= 1 keeps unconditionally, and
        # gating the product comparison below it bounds both DECIMAL
        # operands (see docstring) — `true OR null` is true, so even a
        # pathological overflow in the unevaluated branch cannot drop
        thr = -(-(s * (1 << 20)) // r_fp)  # ceil
        cond = (F.col("ratio_fp") >= F.lit(thr)) | cond
    return (
        scored.withColumn("_h32", h32)
        .filter(cond)
        .drop("_h32")
    )


def build_dsir_model_partitioned(
    raw: DataFrame, target_pred: Column, n_buckets: int = _DEFAULT_BUCKETS
) -> DataFrame:
    """Single-pass ``build_dsir_model`` for the common case where the
    target corpus IS a slice of the raw corpus (a source/domain/label
    predicate): one corpus pass computes both sides (``t_freq`` as a
    conditional count), halving the corpus passes of the two-DataFrame
    builder. Output is identical to
    ``build_dsir_model(raw.filter(target_pred), raw, ...)`` minus the
    buckets only the target would contribute — impossible here, since
    the target is a subset. Equality is pinned in tests.

    Runs the bincount partial-aggregate kernel of
    ``_bucket_counts_arrow``."""
    return _bucket_counts_arrow(
        raw.select(target_pred.alias("_is_t"), F.col("tokens")),
        n_buckets,
    )
