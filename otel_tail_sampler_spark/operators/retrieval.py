"""Sparse (term-based) retrieval over token arrays: fixed-point BM25.

``bm25_topk`` ranks corpus documents against a small set of query
documents with a BM25-family score computed entirely in integer
arithmetic, so the result — unlike float BM25, whose log-idf and sum
order drift across engines — is bit-reproducible and carries a full
value-hash DuckDB oracle. This is the exact-retrieval counterpart of
``similarity.quantized_topk`` (dense) for the sparse tier: the tool a
training pipeline needs for benchmark decontamination by retrieval and
duplicate-question mining.

Scoring (k1 = 6/5, b = 3/4 — the standard BM25 defaults as exact
rationals; S = 2^SCALE_BITS fixed-point scale; N docs, T total tokens,
dl = |doc|, tf = term count in doc, df = docs containing term):

    idf_fp(t)    = (S * (2N - 2df + 1)) div (2df + 1)
    w(d, t)      = (idf_fp * 44*T * tf) div (20*T*tf + 6*T + 18*dl*N)
    score(q, d)  = sum over shared terms of w(d, t)

The two ``div`` floors replace BM25's real-valued idf log and tf
saturation with monotone rational equivalents: 44*T*tf / (20*T*tf + 6*T
+ 18*dl*N) IS tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)) with avgdl = T/N
multiplied through by 20*T, and (2N-2df+1)/(2df+1) is the argument of
the classic idf log (a strictly decreasing function of df, so rare terms
still dominate; the log is omitted because no cross-engine-exact log
exists). Intermediates ride DECIMAL(38,0) — exact to N ~ 1e9 docs /
T ~ 1e12 tokens at this scale (a smaller ``SCALE_BITS`` shrinks it
beyond that).

Two tiers (mirroring ivf_build/ivf_search):

* ``bm25_topk`` / ``bm25_matches`` — one-shot, stateless: a two-phase
  exact-LOOKUP formulation — pass A reduces the corpus to its distinct
  (term, tf, dl) triple counts (2,043 triples under 11M matched rows
  at sf0.1), the driver computes every observed triple's exact weight
  with Python big ints, pass B gathers weights and reduces per-(query,
  doc) scores in-kernel, emitting only per-batch top-k candidates —
  two map-only corpus passes, nothing corpus-sized joins, aggregates,
  or shuffles. The triple pack caps a document at 2^21 tokens.
* ``bm25_index`` + ``bm25_search`` — the scale path: ONE corpus pass
  builds the inverted index (postings + per-term df + corpus stats),
  materialized once (pass ``out_dir``) and amortized across every query
  batch; search touches only broadcast-filtered index rows, ranks the
  same corpus as the one-shot (tests), and has no document-length
  limit.

Reference parity: the reference engine has no retrieval tier; this is
part of the training-data extension (BM25: Robertson & Zaragoza 2009).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.tables import local_table

SCALE_BITS = 20


def _corpus_stats(corpus: DataFrame) -> tuple[int, int]:
    stats = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.col("tokens"))).alias("t"),
    ).first()
    n_docs, n_tokens = int(stats["n"]), int(stats["t"] or 0)
    if n_docs == 0 or n_tokens == 0:
        raise ValueError("bm25: empty corpus")
    return n_docs, n_tokens


def _postings(corpus: DataFrame) -> DataFrame:
    """(term, doc_id, tf, dl) — one row per distinct (doc, term)."""
    return (
        corpus.select(
            F.col("doc_id"),
            F.size(F.col("tokens")).alias("dl"),
            F.explode(F.col("tokens")).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _query_terms(
    queries: DataFrame,
    query_id: str,
    query_tokens: str,
    distinct: bool = True,
) -> DataFrame:
    """``distinct=False`` skips the dedup exchange for consumers that
    collect and set-ify the terms anyway (the arrow kernel's qmask) —
    one less shuffle stage on the query side."""
    out = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(F.col(query_tokens)).alias("term"),
    )
    return out.distinct() if distinct else out


def _with_idf(dfreq: DataFrame, n_docs: int, s: int) -> DataFrame:
    return dfreq.withColumn(
        "idf_fp",
        F.expr(
            f"CAST({s} AS DECIMAL(38,0)) * ({2 * n_docs} - 2*_df + 1)"
            f" div (CAST(2*_df AS DECIMAL(38,0)) + 1)"
        ),
    ).select("term", "idf_fp")


def _scored(
    matched_tf: DataFrame,
    dfreq_idf: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    n_tokens: int,
) -> DataFrame:
    return (
        matched_tf.join(F.broadcast(dfreq_idf), "term")
        .join(F.broadcast(qterms), "term")
        .withColumn(
            "_w",
            F.expr(
                f"CAST(idf_fp AS DECIMAL(38,0)) * {44 * n_tokens} * tf"
                f" div (CAST({20 * n_tokens} AS DECIMAL(38,0)) * tf"
                f"      + {6 * n_tokens} + CAST({18 * n_docs} AS DECIMAL(38,0)) * dl)"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_w").cast("bigint").alias("score_fp"))
    )


def _rank(
    matched_tf: DataFrame,
    dfreq_idf: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    n_tokens: int,
    k: int,
) -> DataFrame:
    scored = _scored(matched_tf, dfreq_idf, qterms, n_docs, n_tokens)
    # Hot-query safety: a query whose terms match millions of corpus docs
    # does NOT funnel its whole candidate set through one window task —
    # the row_number + rank<=k filter triggers Catalyst's
    # InferWindowGroupLimit, which plants a PARTIAL WindowGroupLimit below
    # the exchange (each map partition forwards only its local top-k per
    # query), so the single per-query task ranks <= k * input-partitions
    # rows. Guarded by tests/test_retrieval.py (plan assert + planted
    # hot-query equality); a manual salted two-level election was measured
    # against this and only adds a second exchange the optimizer's partial
    # limit makes redundant.
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fp"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_fp", "rank")
    )


def _batch_matched_tf(pdf, qs, nq, tokens_col):
    """Shared per-batch match kernel: ONE searchsorted of the flat token
    stream against the sorted query-term array + one bincount of
    (doc x matched-term-index) keys -> ((dd doc indices, tt term
    indices, tf counts, lens per-doc sizes) or None when nothing
    matches, n rows seen, total tokens seen) — the trailing counts feed
    the fused corpus-stats accumulation (the match groups are
    (dd-major, tt-minor) contiguous: the nonzero scan of the bincount
    is ascending)."""
    import numpy as np

    n = len(pdf)
    if not n:
        return None, 0, 0
    arrs = [np.asarray(t, np.int64) for t in pdf[tokens_col]]
    lens = np.fromiter((a.size for a in arrs), np.int64, n)
    total = int(lens.sum())
    nz = lens > 0
    if not nq or not nz.any():
        return None, n, total
    flat = np.concatenate([a for a in arrs if a.size])
    di = np.repeat(np.arange(n)[nz], lens[nz])
    ix = np.searchsorted(qs, flat)
    hit = (ix < nq) & (qs[np.minimum(ix, nq - 1)] == flat)
    if not hit.any():
        return None, n, total
    counts = np.bincount(di[hit] * nq + ix[hit], minlength=n * nq)
    kz = np.nonzero(counts)[0]
    return (kz // nq, kz % nq, counts[kz], lens), n, total


# (term_idx, tf, dl) pack base for the exact-weight lookup key: tf and
# dl are bounded by the int32 token-array size, so 2^21 packs any triple
# injectively into int64 (term_idx < |query terms| << 2^21)
_BM25_PACK = 1 << 21


def _bm25_topk_arrow(
    corpus: DataFrame,
    qterms: DataFrame,
    k: int,
    s: int,
    id_col: str,
    tokens_col: str,
    min_score: int | None = None,
) -> DataFrame:
    """Two-phase exact-lookup BM25 (see ``bm25_topk`` docstring).
    ``min_score`` switches from top-k to THRESHOLD mode: every
    (query, doc) pair at score_fp >= min_score emits (no rank column,
    no window at all — the per-batch cut becomes the final filter,
    which is exact because scores complete within one batch).

    The corpus stats are FUSED into pass A (r7): the kernel already
    walks every document's length, so per-partition (doc count, token
    total) ride the same partial output as two SENTINEL tkeys (-1, -2 —
    a real triple pack is always >= 0) and no separate corpus-stats scan
    runs."""
    import numpy as np
    import pandas as pd

    from typing import Iterator

    spark = corpus.sparkSession
    qt_rows = qterms.collect()  # broadcast regime: queries are small
    q_ids = sorted({r["query_id"] for r in qt_rows})
    terms = sorted({r["term"] for r in qt_rows})
    out_schema = (
        f"query_id {_coltype(qterms, 'query_id')}, "
        f"doc_id {corpus.schema[id_col].dataType.simpleString()}, "
        "score_fp long"
    )
    empty = local_table(spark, [], out_schema + ", rank int")
    if not terms or not q_ids:
        if corpus.isEmpty():
            raise ValueError("bm25: empty corpus")
        return empty
    qs = np.asarray(terms, np.int64)
    nq = len(qs)
    qmask = np.zeros((len(q_ids), nq), bool)
    qpos = {q: i for i, q in enumerate(q_ids)}
    tpos = {t: i for i, t in enumerate(terms)}
    for r in qt_rows:
        qmask[qpos[r["query_id"]], tpos[r["term"]]] = True
    bqs = spark.sparkContext.broadcast(qs)

    # -- pass A: distinct (term_idx, tf, dl) triple counts per partition
    def pass_a(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        vqs = bqs.value
        acc: dict = {}
        nd = tok_total = 0
        for pdf in batches:
            m, nrows, tok = _batch_matched_tf(pdf, vqs, nq, tokens_col)
            nd += nrows
            tok_total += tok
            if m is None:
                continue
            dd, tt, tf, lens = m
            if lens.max() >= _BM25_PACK:
                raise ValueError(
                    "bm25_topk: document length >= 2^21 tokens overflows "
                    "the triple pack — rank with bm25_index + bm25_search"
                )
            key = (tt * _BM25_PACK + tf) * _BM25_PACK + lens[dd]
            uk, uc = np.unique(key, return_counts=True)
            for ky, c in zip(uk.tolist(), uc.tolist()):
                acc[ky] = acc.get(ky, 0) + c
        if nd:
            acc[-1] = nd
            acc[-2] = tok_total
        if acc:
            ks = np.fromiter(acc.keys(), np.int64, len(acc))
            yield pd.DataFrame(
                {
                    "tkey": ks,
                    "n": np.fromiter(acc.values(), np.int64, len(acc)),
                }
            )

    triples = (
        corpus.select(F.col(id_col), F.col(tokens_col))
        .mapInPandas(pass_a, "tkey long, n long")
        .groupBy("tkey")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    n_docs = sum(int(r["n"]) for r in triples if r["tkey"] == -1)
    n_tokens = sum(int(r["n"]) for r in triples if r["tkey"] == -2)
    if n_docs == 0 or n_tokens == 0:
        raise ValueError("bm25: empty corpus")
    triples = [r for r in triples if r["tkey"] >= 0]
    if not triples:
        return empty

    # -- driver: exact weights per observed triple (Python big ints; the
    # identical formula bm25_search evaluates in DECIMAL(38,0))
    df_per_term = [0] * nq
    for r in triples:
        df_per_term[(r["tkey"] // (_BM25_PACK * _BM25_PACK))] += int(r["n"])
    idf = [
        (s * (2 * n_docs - 2 * df + 1)) // (2 * df + 1) if df else 0
        for df in df_per_term
    ]
    tkeys = np.fromiter(
        sorted(int(r["tkey"]) for r in triples), np.int64, len(triples)
    )
    wvals = np.empty(len(tkeys), np.int64)
    for i, ky in enumerate(tkeys.tolist()):
        t_idx, rem = divmod(ky, _BM25_PACK * _BM25_PACK)
        tf, dl = divmod(rem, _BM25_PACK)
        wvals[i] = (idf[t_idx] * 44 * n_tokens * tf) // (
            20 * n_tokens * tf + 6 * n_tokens + 18 * dl * n_docs
        )
    bw = spark.sparkContext.broadcast((tkeys, wvals, qmask, q_ids))

    # -- pass B: in-kernel scoring + per-batch per-query candidate top-k
    def pass_b(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        vqs = bqs.value
        vk, vw, vm, vq = bw.value
        for pdf in batches:
            m, _nr, _tk = _batch_matched_tf(pdf, vqs, nq, tokens_col)
            if m is None:
                continue
            dd, tt, tf, lens = m
            key = (tt * _BM25_PACK + tf) * _BM25_PACK + lens[dd]
            pos = np.searchsorted(vk, key)
            if (pos >= vk.size).any() or (vk[pos] != key).any():
                raise ValueError(
                    "bm25_topk: a (term, tf, dl) triple in the scoring "
                    "pass was unseen by the stats pass — the input "
                    "changed between the two jobs (see the determinism "
                    "precondition)"
                )
            w = vw[pos]
            starts = np.flatnonzero(np.r_[True, dd[1:] != dd[:-1]])
            docs = pdf["doc_id"].to_numpy()[dd[starts]]
            for qi, qid in enumerate(vq):
                sel = vm[qi, tt]
                hits = np.add.reduceat(sel.astype(np.int64), starts)
                sc = np.add.reduceat(np.where(sel, w, 0), starts)
                has = hits > 0
                sc, dcs = sc[has], docs[has]
                if min_score is not None:
                    keep = sc >= min_score
                    sc, dcs = sc[keep], dcs[keep]
                elif sc.size > k > 0:  # k <= 0: emit-all, window empties
                    # candidate cut by SCORE only (ties all kept), so
                    # the final exact window never misses a tied doc
                    kth = np.partition(sc, sc.size - k)[sc.size - k]
                    keep = sc >= kth
                    sc, dcs = sc[keep], dcs[keep]
                if sc.size:
                    yield pd.DataFrame(
                        {
                            "query_id": np.repeat(qid, sc.size),
                            "doc_id": dcs,
                            "score_fp": sc,
                        }
                    )

    cand = corpus.select(F.col(id_col), F.col(tokens_col)).mapInPandas(
        pass_b, out_schema
    )
    if min_score is not None:
        return cand
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fp"), F.asc("doc_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_fp", "rank")
    )


def _coltype(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def bm25_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """One-shot top-k corpus docs per query doc by fixed-point BM25.

    -> (query_id, doc_id, score_fp bigint, rank int), rank by
    (score_fp DESC, doc_id ASC). Docs sharing no term with a query are
    absent (score 0 by definition). The query side must be small enough
    to broadcast — the standard sparse-retrieval regime.

    Two-phase lookup formulation: pass A is a map-only bincount kernel
    whose per-partition output is the distinct (term, tf, dl) TRIPLE
    counts plus corpus stats — bounded by triple cardinality (2,043
    triples under 11M matched (doc, term) rows at sf0.1), never by
    corpus size. The driver then computes the exact fixed-point weight
    of every observed triple with arbitrary-precision Python integers
    (the same two-div formula, so DECIMAL(38,0) never enters) and
    broadcasts the packed-key lookup; pass B maps the corpus again,
    gathers each matched triple's weight (int64 — a weight is < 2.2 *
    idf_fp), reduces per-(query, doc) scores in-kernel, and emits only
    per-batch top-k candidates. The only shuffled rows are
    O(partitions x triples + queries x k x batches). Both passes must
    see the same input (the pack_sequences determinism precondition) —
    a triple in pass B unseen by pass A raises instead of mis-scoring.
    A document of 2^21 or more tokens overflows the triple pack and
    raises. Use bm25_index/bm25_search for such a corpus and for a
    standing index.
    """
    s = 1 << SCALE_BITS
    # stats fused into pass A; the dedup exchange is skipped because
    # the kernel's collect set-ifies terms anyway
    return _bm25_topk_arrow(
        corpus,
        _query_terms(queries, "query_id", "tokens", distinct=False),
        k,
        s,
        "doc_id",
        "tokens",
    )


def bm25_matches(
    corpus: DataFrame, queries: DataFrame, min_score_fp: int
) -> DataFrame:
    """THRESHOLD retrieval: every (query, doc) pair whose fixed-point
    BM25 score reaches ``min_score_fp`` -> (query_id, doc_id,
    score_fp). The decontamination shape — a contaminated document
    outside some top-k must still be flagged, so the cut is a score
    bar, not a rank. Same kernel and exact arithmetic as
    ``bm25_topk``; in threshold mode it needs NO window at all (per-doc
    scores complete inside one batch, so the per-batch filter IS the
    final answer)."""
    s = 1 << SCALE_BITS
    return _bm25_topk_arrow(
        corpus,
        _query_terms(queries, "query_id", "tokens", distinct=False),
        0,
        s,
        "doc_id",
        "tokens",
        min_score=int(min_score_fp),
    )


def bm25_index(
    corpus: DataFrame,
    out_dir: str | None = None,
    index_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame, tuple[int, int]]:
    """Build the inverted index: -> (postings, term_stats, (N, T)).

    postings = (term, doc_id, tf, dl); term_stats = (term, df). With
    ``out_dir`` the postings are written to parquet (hash-distributed and
    sorted by term so row-group min/max stats prune term probes) and read
    back, so term_stats and every later search reuse the materialization
    — ONE corpus pass total. Without it the returned frames are lazy and
    each action re-derives them (fine for tests, not for a standing
    index).
    """
    n_docs, n_tokens = _corpus_stats(corpus)
    post = _postings(corpus)
    if out_dir is not None:
        path = out_dir.rstrip("/") + "/postings"
        shaped = (
            post.repartition(index_partitions, "term")
            if index_partitions
            else post
        )
        shaped.sortWithinPartitions("term").write.mode("overwrite").parquet(
            path
        )
        post = corpus.sparkSession.read.parquet(path)
    term_stats = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return post, term_stats, (n_docs, n_tokens)


def bm25_search(
    postings: DataFrame,
    term_stats: DataFrame,
    stats: tuple[int, int],
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Rank against a prebuilt bm25_index — equal to bm25_topk on the
    same corpus (asserted in tests), but the corpus is never rescanned:
    both index sides are broadcast-semi-filtered to query terms before
    anything else touches them."""
    n_docs, n_tokens = int(stats[0]), int(stats[1])
    s = 1 << SCALE_BITS
    qterms = _query_terms(queries, "query_id", "tokens")
    terms_only = qterms.select("term").distinct()
    matched = postings.join(F.broadcast(terms_only), "term", "left_semi")
    dfreq = _with_idf(
        term_stats.join(F.broadcast(terms_only), "term", "left_semi")
        .withColumnRenamed("df", "_df"),
        n_docs,
        s,
    )
    return _rank(matched, dfreq, qterms, n_docs, n_tokens, k)
