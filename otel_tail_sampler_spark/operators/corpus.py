"""Corpus-level training-mix operators over the documents / tokenized
tables: vocabulary statistics and deterministic domain-mixture sampling —
the two knobs every pre-training data pipeline turns before packing.

Not present in the reference (a telemetry sampler); these are first-class
components of the task brief's training-data tier, sharing the engine's
md5 hash-fraction family (functions.hashing) so they stay deterministic
and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.hashing import hash_frac, hash_key
from otel_tail_sampler_spark.functions.ranking import top_per_key

# hash_frac salt shared by mixture_sample and mixture_upsample, so a doc's
# keep draw is the same fraction in both
MIXTURE_SEED = "mixture"
# the id remap_rare_tokens and encode_with_vocab write for a dropped token
UNK_ID = -1
# split_corpus: train < SPLIT_TRAIN <= val < SPLIT_TRAIN + SPLIT_VAL <= test
SPLIT_TRAIN = 0.8
SPLIT_VAL = 0.1


def vocab_histogram(df: DataFrame) -> DataFrame:
    """(token, freq) unigram histogram of the token-array column.

    explode -> two-phase count: the partial aggregation combines map-side,
    so the shuffle carries one (token, partial-count) row per distinct
    token per input split — vocabulary-sized, not corpus-sized. This is
    the op behind vocab pruning / OOV-rate checks before training.
    """
    return (
        df.select(F.explode(F.col("tokens")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def mixture_sample(docs: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Deterministic domain-mixing sample: keep a doc iff
    md5-fraction(doc_id | MIXTURE_SEED) < rates[source] (unlisted sources
    drop).

    Same consistent-sampling family as the policy engine's hash sampling:
    raising a source's rate only ADDS documents (nested keep sets), reruns
    are identical, and no shuffle happens at all — it is a scan-time
    filter that Catalyst pushes alongside the rest of the predicate.
    """
    pairs: list[Column] = []
    for s, r in rates.items():
        pairs += [F.lit(s), F.lit(float(r))]
    rate = F.coalesce(F.create_map(*pairs)[F.col("source")], F.lit(0.0))
    key = F.col("doc_id").cast("string")
    return docs.filter(hash_frac(key, MIXTURE_SEED) < rate)


def remap_rare_tokens(df: DataFrame, min_freq: int = 2) -> DataFrame:
    """Replace tokens whose CORPUS-WIDE frequency is below ``min_freq``
    with ``UNK_ID`` (OOV/UNK collapse before vocabulary finalization).
    -> (id, tokens remapped in place, n_unk replaced per row).

    Scale shape — the corpus itself NEVER shuffles. Global frequencies
    come from the vocabulary-sized two-phase count above (the shuffle
    carries distinct types, not the corpus); the rare-type set is
    collected and broadcast — it is bounded by the VOCABULARY, not the
    corpus (int64 ids: even 10M rare types is ~80 MB, and per Zipf the
    rare tail is far smaller than the token stream). The remap itself is
    then one shuffle-free Arrow-batched mapInPandas stage: sorted
    ``np.isin`` against the broadcast set, arrays rewritten in place.
    An earlier posexplode + join + groupBy(doc_id) reassembly formulation
    moved one row PER TOKEN through two corpus-sized exchanges — the
    exact fail mode packing.py names — and was replaced by this kernel
    (same oracle, plan asserted Exchange-free in tests/test_plans.py).

    Docs with empty token arrays pass through with n_unk = 0.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    rare_pdf = (
        vocab_histogram(df)
        .filter(F.col("freq") < min_freq)
        .select("token")
        .toPandas()
    )
    rare = np.sort(rare_pdf["token"].to_numpy(np.int64))
    rare_b = df.sparkSession.sparkContext.broadcast(rare)
    unk = UNK_ID

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # batch-vectorized (the bigram scorer's flat-stream shape): ONE
        # concatenate + sorted membership probe per Arrow batch, n_unk by
        # segment reduceat — no per-document Python loop in the hot path
        rset = rare_b.value
        for pdf in batches:
            n = len(pdf)
            if not n:  # empty batch would yield untyped columns
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            total = int(lens.sum())
            if total and rset.size:
                flat = np.concatenate([a for a in arrs if a.size])
                idx = np.searchsorted(rset, flat)
                idx[idx == rset.size] = 0
                mask = rset[idx] == flat
                out_flat = np.where(mask, unk, flat).astype(np.int32)
            else:
                mask = np.zeros(total, bool)
                out_flat = (
                    np.concatenate(arrs) if total else np.empty(0, np.int64)
                ).astype(np.int32)
            cum = np.cumsum(lens)
            starts = np.concatenate(([0], cum[:-1]))
            # zero sentinel keeps every reduceat start in bounds; empty
            # docs (start == next start) read garbage there and are forced
            n_unk = np.add.reduceat(np.append(mask.astype(np.int64), 0), starts)
            n_unk[lens == 0] = 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": np.split(out_flat, cum[:-1]),
                    "n_unk": n_unk.astype(np.int32),
                }
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select(F.col("doc_id"), F.col("tokens")).mapInPandas(
        fn, f"doc_id {id_type}, tokens array<int>, n_unk int"
    )


def build_vocab(df: DataFrame, vocab_size: int) -> DataFrame:
    """Learned-vocabulary build: the ``vocab_size`` most frequent tokens,
    assigned DENSE ranked ids 0..vocab_size-1 by (freq DESC, token ASC) —
    the deterministic tie-break makes the table identical across engines,
    partitionings, and reruns. -> (token, freq, rank_id).

    This is the counted-vocabulary counterpart to text.hash_tokenize's
    hashing trick: hash ids need no artifact but collide; ranked ids give
    the dense [0, V) space a trained embedding table wants. Feed the
    result to ``encode_with_vocab`` to remap a corpus onto it.

    Scale shape: the heavy lifting is vocab_histogram's two-phase count
    (shuffle carries distinct types, not the corpus). The rank window runs
    over the VOCABULARY — top-k truncated, driver-bounded by construction
    — with a single-partition window being acceptable exactly because its
    input is capped at vocab_size rows (a window over the corpus would
    not be).
    """
    from pyspark.sql import Window

    hist = vocab_histogram(df)
    top = hist.orderBy(F.desc("freq"), F.asc("token")).limit(int(vocab_size))
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return top.withColumn(
        "rank_id", (F.row_number().over(w) - 1).cast("int")
    )


def encode_with_vocab(df: DataFrame, vocab: DataFrame) -> DataFrame:
    """Remap token arrays onto a built vocabulary's dense rank ids
    (tokens absent from the vocab -> ``UNK_ID``).
    -> (id, tokens remapped, n_unk).

    Scale shape: identical to remap_rare_tokens — the vocab table
    (token -> rank_id) is vocabulary-bounded, collected once, broadcast as
    two sorted numpy arrays, and the remap is one shuffle-free
    Arrow-batched mapInPandas with a clamped searchsorted probe. The
    corpus never shuffles. Same determinism precondition as doc_rarity:
    the vocab is collected eagerly, the remap runs in a later job.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    vpdf = vocab.select("token", "rank_id").toPandas()
    toks = vpdf["token"].to_numpy(np.int64)
    order = np.argsort(toks)
    vtok = toks[order]
    vid = vpdf["rank_id"].to_numpy(np.int32)[order]
    b = df.sparkSession.sparkContext.broadcast((vtok, vid))
    unk = UNK_ID

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # batch-vectorized flat-stream probe (see remap_rare_tokens): one
        # searchsorted per Arrow batch, per-doc n_unk via segment reduceat
        vt, vi = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            total = int(lens.sum())
            if total and vt.size:
                flat = np.concatenate([a for a in arrs if a.size])
                idx = np.searchsorted(vt, flat)
                idx[idx == vt.size] = 0
                hit = vt[idx] == flat
                out_flat = np.where(hit, vi[idx], unk).astype(np.int32)
            else:
                hit = np.zeros(total, bool)
                out_flat = np.full(total, unk, np.int32)
            cum = np.cumsum(lens)
            starts = np.concatenate(([0], cum[:-1]))
            n_unk = np.add.reduceat(
                np.append((~hit).astype(np.int64), 0), starts
            )
            n_unk[lens == 0] = 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": np.split(out_flat, cum[:-1]),
                    "n_unk": n_unk.astype(np.int32),
                }
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select(F.col("doc_id"), F.col("tokens")).mapInPandas(
        fn, f"doc_id {id_type}, tokens array<int>, n_unk int"
    )


def mixture_upsample(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Deterministic domain mixing with weights ABOVE 1: emit
    floor(w) copies of every doc plus one more iff
    md5-fraction(doc_id | MIXTURE_SEED) < frac(w) — the standard "epochs per
    source" upsampling a pre-training mixture needs (a 2.5-weighted
    source contributes each doc 2 times plus a consistent extra half).
    Weights < 1 degrade to exactly mixture_sample's keep rule; unlisted
    sources drop. -> input columns + ``copy`` (0-based copy index).

    Scale shape: scan-time explode of a sequence literal — no shuffle,
    no Python; the md5 fraction is the same consistent-sampling family as
    every other gate, so raising a weight only ADDS copies and reruns are
    identical. The copy index keeps downstream shuffles (packing, shard
    assignment) deterministic — two copies of a doc are distinct rows
    with distinct (id, copy) identity.
    """
    pairs: list[Column] = []
    for s, w in weights.items():
        pairs += [F.lit(s), F.lit(float(w))]
    w = F.coalesce(F.create_map(*pairs)[F.col("source")], F.lit(0.0))
    frac_keep = hash_frac(F.col("doc_id").cast("string"), MIXTURE_SEED) < (
        w - F.floor(w)
    )
    n_copies = (F.floor(w) + frac_keep.cast("long")).cast("int")
    return docs.withColumn("_n_copies", n_copies).filter(
        F.col("_n_copies") > 0
    ).withColumn(
        "copy", F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1))
    ).drop("_n_copies")


def doc_rarity(df: DataFrame, rare_threshold: int = 2) -> DataFrame:
    """Per-document token-rarity quality signals from CORPUS-WIDE unigram
    frequencies: -> (id, n_tok, mean_freq, rare_frac, min_freq).

    * ``mean_freq``  — average corpus frequency of the doc's tokens (low =>
      unusual vocabulary: often noise, OCR damage, or genuinely rare text);
    * ``rare_frac``  — fraction of tokens with corpus freq < threshold
      (the OOV-rate gate every vocab finalization checks);
    * ``min_freq``   — rarest token's frequency (0 for empty docs).

    All outputs are ratios of integers — no transcendentals — so they
    round identically in every engine and the operator hash-checks exactly
    (a log-perplexity variant would differ in last-ulp libm bits).

    Scale shape: same as remap_rare_tokens — the frequency table is
    vocabulary-bounded, collected once and broadcast as two sorted numpy
    arrays; the scoring pass is shuffle-free Arrow-batched mapInPandas.
    The corpus shuffles only inside the vocabulary-sized histogram count.

    Determinism precondition: the histogram is collected in one eager job
    and scoring runs in a LATER job over the same ``df`` — the input must
    be bit-stable across recomputations (a source table updated mid-run,
    or nondeterministic lineage, can surface tokens absent from the
    collected vocab). Such tokens are scored as frequency 0 (rare, and
    min_freq 0 flags the doc) rather than crashing the stage — the same
    clamped searchsorted probe remap_rare_tokens uses.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    freq_pdf = vocab_histogram(df).toPandas()
    toks = freq_pdf["token"].to_numpy(np.int64)
    order = np.argsort(toks)
    vocab = toks[order]
    freqs = freq_pdf["freq"].to_numpy(np.int64)[order]
    b = df.sparkSession.sparkContext.broadcast((vocab, freqs))
    thr = int(rare_threshold)

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # batch-vectorized flat-stream probe (see remap_rare_tokens): one
        # clamped searchsorted per Arrow batch — a token outside the
        # collected vocab (input changed between jobs) scores frequency 0
        # instead of indexing past the array. Per-doc sums/counts via
        # segment reduceat; per-doc min via minimum.reduceat with an
        # int64-max sentinel (a zero sentinel would clamp the LAST doc's
        # min; empty docs are forced to 0 afterwards either way).
        v, fr = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            total = int(lens.sum())
            if total and v.size:
                flat = np.concatenate([a for a in arrs if a.size])
                idx = np.searchsorted(v, flat)
                idx[idx == v.size] = 0
                f = np.where(v[idx] == flat, fr[idx], 0)
            else:
                f = np.zeros(total, np.int64)
            cum = np.cumsum(lens)
            starts = np.concatenate(([0], cum[:-1]))
            empty = lens == 0
            sums = np.add.reduceat(np.append(f, np.int64(0)), starts)
            sums[empty] = 0
            rare = np.add.reduceat(
                np.append((f < thr).astype(np.int64), 0), starts
            )
            rare[empty] = 0
            mins = np.minimum.reduceat(
                np.append(f, np.iinfo(np.int64).max), starts
            )
            mins[empty] = 0
            # full precision here; callers round with F.round (HALF_UP,
            # matches DuckDB) — Python round() is banker's and would
            # drift on exact .5 boundaries
            safe = np.maximum(lens, 1).astype(np.float64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": lens.astype(np.int32),
                    "mean_freq": sums.astype(np.float64) / safe,
                    "rare_frac": rare.astype(np.float64) / safe,
                    "min_freq": mins,
                }
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select(F.col("doc_id"), F.col("tokens")).mapInPandas(
        fn,
        f"doc_id {id_type}, n_tok int, mean_freq double, "
        "rare_frac double, min_freq long",
    )


def prepare_corpus(
    docs: DataFrame,
    rates: dict[str, float],
    min_words: int = 5,
    max_words: int = 5000,
    max_dup_word_frac: float = 0.6,
) -> DataFrame:
    """The standard corpus-prep filter chain in one call:
    exact dedup -> length gate -> repetition gate -> deterministic
    domain-mixture sampling. -> (doc_id, source, n_words,
    dup_word_frac) for the surviving documents.

    Composition of already-proven operators, in the cheap-to-expensive
    order a 100 TB run wants: the md5 dedup and the hash-fraction mixture
    gate are scan-side (no text moves), and the repetition aggregates run
    only over dedup survivors. Every signal this chain gates on is
    oracle-checked standalone (dedup_exact / repetition_signals /
    mixture_sample), so the composition stays hash-checkable end-to-end.

    Gates use the ROUNDED dup_word_frac the repetition operator reports,
    keeping the keep-set identical across engines at the boundary.
    """
    from otel_tail_sampler_spark.operators.dedup import exact_dedup
    from otel_tail_sampler_spark.operators.text import repetition_signals

    kept = exact_dedup(docs)
    rep = repetition_signals(kept).select(
        "doc_id", "n_words", "dup_word_frac"
    )
    gated = (
        kept.select("doc_id", "source")
        .join(rep, "doc_id")
        .filter(
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("dup_word_frac") <= max_dup_word_frac)
        )
    )
    return mixture_sample(gated, rates)


def split_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment: split by the md5 fraction
    of the doc id (train < ``SPLIT_TRAIN`` <= val < ``SPLIT_TRAIN +
    SPLIT_VAL`` <= test).

    Same consistent-hash family as mixture/policy sampling: assignment is
    a pure scan-time projection (no shuffle), stable across re-runs and
    engines, and growing ``SPLIT_TRAIN`` only MOVES docs val->train (never
    reshuffles the rest) — the property that keeps eval sets frozen while
    the train fraction is tuned.
    """
    f = hash_frac(F.col("doc_id").cast("string"), "split")
    return docs.withColumn(
        "split",
        F.when(f < SPLIT_TRAIN, "train")
        .when(f < SPLIT_TRAIN + SPLIT_VAL, "val")
        .otherwise("test"),
    )


def _batch_bigram_pairs(arrs, lens):
    """numpy twin of ``_exploded_bigrams`` over a whole Arrow batch of
    ragged token arrays: ONE flat packed-pair stream for the batch ->
    (pairs int64, cross bool mask, starts, nz). ``cross`` marks pairs
    that span two documents (masked out of every per-doc reduction);
    ``starts``/``nz`` drive ``_segment_sums``. Shared by the bigram
    scorer and the DSIR scorer so the pack formula and the boundary
    bookkeeping have ONE numpy implementation (the Spark-side twin has
    its own planted INT32_MIN test)."""
    import numpy as np

    nz = lens > 0
    flat = np.concatenate([a for a in arrs if a.size])
    pairs = flat[:-1] * np.int64(4294967296) + (
        flat[1:] & np.int64(4294967295)
    )
    cum = np.cumsum(lens[nz])
    cross = np.zeros(pairs.size, bool)
    cross[cum[:-1] - 1] = True
    starts = np.concatenate(([0], cum[:-1]))
    return pairs, cross, starts, nz


def _segment_sums(per_pair, cross, starts, nbi, nz):
    """Per-document sums of a per-pair value stream: zero out the
    boundary-crossing pairs, append a zero sentinel so every reduceat
    start stays in bounds, and force empty segments to 0 afterwards
    (reduceat returns a[i], not 0, for an empty segment — the
    single-token-doc quirk). -> int64 array sized like ``nbi``."""
    import numpy as np

    vals = np.append(np.where(cross, np.int64(0), per_pair), 0)
    out = np.zeros(nbi.size, np.int64)
    out[nz] = np.add.reduceat(vals, starts)
    out[nbi == 0] = 0
    return out


def _exploded_bigrams(df: DataFrame) -> DataFrame:
    """One ``bigram`` row per adjacent token pair, WHOLE-STAGE CODEGEN:
    zip the two shifted slices with ``arrays_zip`` (a plain expression),
    explode the struct stream, and apply the pack arithmetic
    POST-explode (a ``zip_with`` lambda would run INTERPRETED per
    element — measured 2x slower on the ngram/DSIR shapes at sf0.1).
    Single-token/empty docs drop (no pairs), as explode of the empty
    array would.

    Packing: t1 * 2^32 + (t2 & 0xFFFFFFFF) — signed high word, UNSIGNED
    low word. The unshifted t1*2^32 + t2 overflows at t1 = INT32_MIN
    with t2 < 0 (ANSI Spark raises where numpy wraps: engines diverge),
    and a "+ 2^31" low-word shift is unsafe too — Catalyst REASSOCIATES
    the constant add into (t1*2^32 + t2) + 2^31, overflowing the same
    way. bitwiseAND gives Catalyst nothing to reassociate and bounds
    the packed value at exactly [-2^63, 2^63 - 1] for all int32 pairs.
    """
    m = F.size("tokens") - 1
    z = F.arrays_zip(
        F.slice(F.col("tokens"), 1, m), F.slice(F.col("tokens"), 2, m)
    )
    ex = df.where(F.size("tokens") >= 2).select(F.explode(z).alias("_zz"))
    pk = F.col("_zz")["0"].cast("bigint") * F.lit(4294967296) + F.col(
        "_zz"
    )["1"].cast("bigint").bitwiseAND(F.lit(4294967295))
    return ex.select(pk.alias("bigram"))


def build_bigram_model(df: DataFrame, model_size: int = 1 << 20) -> DataFrame:
    """Capped adjacent-bigram language model over the corpus:
    -> (bigram bigint, freq bigint), the ``model_size`` most frequent
    adjacent token pairs, packed as t1 * 2^32 + (t2 & 0xFFFFFFFF) —
    signed high word, unsigned low word: injective AND overflow-free
    over the FULL int32 token range including negatives (packed spans
    exactly [-2^63, 2^63 - 1]; identical arithmetic in Spark SQL, numpy
    int64, and DuckDB BIGINT — see ``_exploded_bigrams`` on why a plain
    or shifted add is NOT safe), with pmi_collocations carrying the
    decode.
    Deterministic cap tie-break (freq DESC, bigram ASC) keeps the model
    identical across engines and reruns.

    This is the integer-count backbone of LM-style fluency/novelty
    filtering WITHOUT transcendentals: log-prob perplexity is not
    bit-reproducible across engines (ln diverges in the last ulp), so
    ``score_bigram_novelty`` reports exact ratio signals (unseen-bigram
    fraction, mean bigram frequency) computed from these counts — the
    quantities a perplexity filter actually thresholds on, oracle-exact.

    Scale shape: mirrors vocab_histogram — the explode is transient
    (partial aggregation combines map-side, so the shuffle carries one
    (bigram, partial-count) row per distinct pair per split, bounded by
    distinct-bigram cardinality, not corpus size); the cap's global
    sort-limit runs over the aggregated model candidates (TakeOrdered, no
    full sort at scale).
    """
    return (
        _exploded_bigrams(df)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(int(model_size))
    )


def score_bigram_novelty(df: DataFrame, model: DataFrame) -> DataFrame:
    """Score each document against a built bigram model:
    -> (id, n_bigrams int, n_unseen int, hit_freq_sum bigint).

    ``n_unseen`` counts the document's adjacent bigrams absent from the
    (capped) model; ``hit_freq_sum`` sums the model frequency of the
    present ones. Downstream ratio signals (unseen_frac = n_unseen /
    n_bigrams, mean_freq = hit_freq_sum / n_bigrams) are exact integer
    divisions — compute them query-side so float handling stays at the
    comparison boundary. High unseen_frac ≈ high perplexity (novel or
    noisy text); near-zero ≈ boilerplate (see the transcendental-free
    rationale on build_bigram_model).

    Shuffle-free mapInPandas: the model is collected once and broadcast
    as two sorted numpy arrays, one batch-vectorized searchsorted probe
    per Arrow batch; the corpus crosses the JVM<->Python socket but
    never shuffles. A/B at sf0.1 (600k docs, min-of-5 full query): 7.1s
    vs 9.5s for an explode + broadcast-join + per-doc aggregate
    formulation, which pays an 8x row explosion through the join.
    Determinism precondition: the model is materialized once (collect),
    scoring runs in a later job over the same input.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    mpdf = model.select("bigram", "freq").toPandas()
    bg = mpdf["bigram"].to_numpy(np.int64)
    order = np.argsort(bg)
    mb = bg[order]
    mf = mpdf["freq"].to_numpy(np.int64)[order]
    b = df.sparkSession.sparkContext.broadcast((mb, mf))

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        # batch-vectorized: ONE concatenate + searchsorted + reduceat per
        # Arrow batch instead of a per-document Python loop (the loop was
        # ~4us/doc of pure interpreter overhead — the whole secondary's
        # cost at 600k docs). Flat-stream segmentation shared with the
        # DSIR scorer via _batch_bigram_pairs/_segment_sums.
        vb, vf = b.value
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            arrs = [np.asarray(t, np.int64) for t in pdf["tokens"]]
            lens = np.fromiter((a.size for a in arrs), np.int64, n)
            nbi = np.maximum(lens - 1, 0)
            nu = np.zeros(n, np.int64)
            hs = np.zeros(n, np.int64)
            total = int(lens.sum())
            if total >= 2 and vb.size:
                pairs, cross, starts, nz = _batch_bigram_pairs(arrs, lens)
                idx = np.searchsorted(vb, pairs)
                idx[idx == vb.size] = 0
                hit = vb[idx] == pairs
                nu = _segment_sums(
                    (~hit).astype(np.int64), cross, starts, nbi, nz
                )
                hs = _segment_sums(
                    np.where(~hit, np.int64(0), vf[idx]),
                    cross,
                    starts,
                    nbi,
                    nz,
                )
            elif not vb.size:
                nu = nbi.copy()  # empty model: every bigram is unseen
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bigrams": nbi.astype(np.int32),
                    "n_unseen": nu.astype(np.int32),
                    "hit_freq_sum": hs,
                }
            )

    id_type = df.schema["doc_id"].dataType.simpleString()
    return df.select(F.col("doc_id"), F.col("tokens")).mapInPandas(
        fn,
        f"doc_id {id_type}, n_bigrams int, n_unseen int, hit_freq_sum long",
    )


def ngram_counts(df: DataFrame, n: int = 3, top: int = 1 << 20) -> DataFrame:
    """Capped corpus n-gram counts: -> (gram string, freq bigint), the
    ``top`` most frequent length-``n`` token windows, ranked
    (freq DESC, gram ASC). The general-``n`` sibling of
    :func:`build_bigram_model` — the count table external LM tooling
    (KenLM-style) trains from, and the raw material for n-gram overlap
    audits beyond the fixed bigram/8-gram tiers.

    The gram key is the comma-joined token ids: for n > 2 a gram no
    longer fits the bigram family's int64 word packing, and binary
    string ordering is identical in Spark and DuckDB so the cap
    tie-break stays engine-exact (same argument as the md5-hex ranking
    family, functions/hashing.py).

    Scale shape: mirrors vocab_histogram/build_bigram_model, and the
    whole pre-aggregation pipeline is WHOLE-STAGE CODEGEN: the n
    shifted slices zip through ``arrays_zip`` (a plain expression, not
    a HOF), the struct stream explodes, and the comma-join happens
    POST-explode with ``concat_ws`` over struct fields — no
    higher-order-function lambda ever runs interpreted per element (an
    earlier n-1x ``zip_with``-concat formulation was measured 2x
    slower at sf0.1 purely on HOF interpretation). The explode is
    transient: partial aggregation combines map-side, so the shuffle
    carries one (gram, partial count) row per distinct gram per split
    — bounded by distinct-gram cardinality, not corpus size — and the
    cap is a TakeOrdered over aggregated candidates, never a full
    sort.
    """
    if n < 1:
        raise ValueError("ngram_counts: n must be >= 1")
    base = df.select(
        F.col("tokens").alias("_t"), F.size("tokens").alias("_n")
    ).where(F.col("_n") >= n)  # short docs have no length-n window
    m = F.col("_n") - (n - 1)
    z = F.arrays_zip(*[F.slice(F.col("_t"), j + 1, m) for j in range(n)])
    # aggregate on the INT STRUCT key (r7): building the comma-joined
    # string per exploded window stringified the pre-aggregation stream
    # (one string alloc per corpus window); grouping on the struct of n
    # ints defers the string build to the aggregated rows — bounded by
    # distinct-gram cardinality, ~10x fewer at sf0.1. The cap still
    # tie-breaks on the STRING (binary order is the engine-exact
    # contract), derived post-agg, so results are unchanged.
    gram = F.concat_ws(
        ",", *[F.col("_g")[str(j)].cast("string") for j in range(n)]
    )
    return (
        base.select(F.explode(z).alias("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(gram.alias("gram"), "freq")
        .orderBy(F.desc("freq"), F.asc("gram"))
        .limit(int(top))
    )


def chunk_documents(
    df: DataFrame, max_len: int = 512, stride: int = 448
) -> DataFrame:
    """Sliding-window context chunking: each document becomes overlapping
    chunks, chunk k covering tokens [k*stride, k*stride + max_len), for
    k = 0 .. ceil(max(n - max_len, 0) / stride) — the standard long-doc
    treatment when examples must not straddle documents (the alternative
    to pack_sequences' concatenate-and-cut). stride < max_len gives
    max_len - stride tokens of overlap; the final chunk may be short;
    empty documents emit nothing. -> (id, chunk_id int, tokens, n_tok).

    Scale shape: scan-time sequence/explode/slice, the same zero-shuffle
    piece-cutting pattern as pack_sequences — output is ~n/stride rows
    per doc, all whole-stage codegen.
    """
    if stride < 1 or max_len < 1:
        raise ValueError("stride and max_len must be >= 1")
    t, n = F.col("tokens"), F.size("tokens")
    last = F.floor(
        (F.greatest(n - max_len, F.lit(0)) + F.lit(stride - 1)) / stride
    )
    ks = F.when(n > 0, F.sequence(F.lit(0).cast("long"), last)).otherwise(
        F.array().cast("array<bigint>")
    )
    ex = df.select(F.col("doc_id"), t.alias("_t"), F.explode(ks).alias("_k"))
    chunk = F.slice(
        F.col("_t"), (F.col("_k") * stride + 1).cast("int"), max_len
    )
    return ex.select(
        F.col("doc_id"),
        F.col("_k").cast("int").alias("chunk_id"),
        chunk.alias("tokens"),
        F.size(chunk).cast("int").alias("n_tok"),
    )


def stratified_sample(df: DataFrame, quota: int) -> DataFrame:
    """Exactly min(``quota``, group size) rows per ``source`` group:
    the ``quota`` smallest md5(doc_id|'strat') survive — deterministic uniform
    selection, identical across engines/partitionings (md5-hex ranking).
    The per-group counterpart of mixture_sample's per-group RATES, for
    eval-set carving and per-domain caps where the quota is absolute.

    Scale shape: ``functions.ranking.top_per_key``'s two-level selection
    (the same as the rate-limit policy D8): no single task ever holds a
    whole hot group.
    """
    order = [hash_key(F.col("doc_id").cast("string"), "strat"), F.col("doc_id")]
    return top_per_key(df, "source", order, quota, F.row_number)[0]


def pmi_collocations(
    df: DataFrame,
    top_k: int = 10,
    min_count: int = 5,
    model_size: int = 1 << 20,
) -> DataFrame:
    """Top-``top_k`` right-hand collocates per token, ranked by the exact
    PMI-proportional ratio score = c(a,b) * N / (c(a) * c(b)) with N the
    corpus bigram total (pointwise mutual information, Church & Hanks
    1990) — log is monotonic, so ranking by the ratio IS ranking by PMI,
    computed without transcendentals (engine-exact; see
    build_bigram_model). Pairs rarer than ``min_count`` are dropped first
    (PMI's classic low-count blowup). ->
    (token, neighbor, pair_freq, freq_a, freq_b, score, rank).

    Scale shape: pair counts come from the capped bigram model and the
    unigram table from vocab_histogram — both vocabulary-bounded, so the
    two equi-joins and the per-token top-k window all run on model-sized
    inputs (the window's partition is a token's collocate list, capped by
    the model, never the corpus). Products stay < 2^63 for any corpus
    below ~3e9 bigrams per pair count; score division is one double op.
    """
    from pyspark.sql import Window

    bm = build_bigram_model(df, model_size=model_size)
    uni = vocab_histogram(df).select(
        F.col("token").alias("_t"), F.col("freq").alias("_uf")
    )
    n_total = df.select(
        F.sum(F.greatest(F.size("tokens") - 1, F.lit(0))).alias("n")
    ).collect()[0]["n"] or 0
    # decode of the t1*2^32 + (t2 & 0xFFFFFFFF) packing (see
    # build_bigram_model for why that form): pmod yields the unsigned low
    # word in [0, 2^32) in both engines — >= 2^31 means t2 was negative —
    # and the high word divides out exactly, no borrow. The planted
    # negative-id unit test pins this: a symmetric decode bug matches the
    # DuckDB oracle symmetrically.
    r = F.pmod(F.col("bigram"), F.lit(4294967296))
    neighbor = F.when(r < F.lit(2147483648), r).otherwise(
        r - F.lit(4294967296)
    )
    token = ((F.col("bigram") - r) / F.lit(4294967296)).cast("long")
    pairs = (
        bm.filter(F.col("freq") >= int(min_count))
        .select(
            token.alias("token"),
            neighbor.cast("long").alias("neighbor"),
            F.col("freq").alias("pair_freq"),
        )
    )
    scored = (
        pairs.join(uni.withColumnRenamed("_uf", "freq_a"), pairs["token"] == uni["_t"])
        .drop("_t")
        .join(
            uni.select(F.col("_t"), F.col("_uf").alias("freq_b")),
            F.col("neighbor") == F.col("_t"),
        )
        .drop("_t")
        .withColumn(
            "score",
            (F.col("pair_freq") * F.lit(int(n_total))).cast("double")
            / (F.col("freq_a") * F.col("freq_b")).cast("double"),
        )
    )
    w = Window.partitionBy("token").orderBy(
        F.desc("score"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .select(
            "token", "neighbor", "pair_freq", "freq_a", "freq_b",
            "score", "rank",
        )
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """Per-source corpus health rollup — the one-page answer to "what is
    in this crawl": -> (source, n_docs, n_dup_docs, total_words,
    mean_words, p50_words, max_words). ``n_dup_docs`` counts documents
    whose exact content digest already appeared within the source.

    Scale shape: one aggregation keyed on the low-cardinality source —
    safe even for a hot source because aggregation (unlike a window)
    combines map-side; the distinct-digest count is Spark's standard
    two-phase expansion shuffling one row per distinct (source, digest).
    The exact p50 uses percentile(), bit-identical to DuckDB's
    quantile_cont on integer inputs after round(.,4) — at larger
    cardinalities swap in percentile_approx exactly as the
    service-latency pair documents.
    """
    from otel_tail_sampler_spark.operators.text import token_count_ws

    per = docs.select(
        F.col("source"),
        F.md5(F.col("text")).alias("_d"),
        token_count_ws(F.col("text")).cast("int").alias("_w"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("_d")).alias("n_dup_docs"),
            F.sum("_w").alias("total_words"),
            F.round(F.avg("_w"), 6).alias("mean_words"),
            F.round(F.percentile("_w", F.lit(0.5)), 4).alias("p50_words"),
            F.max("_w").alias("max_words"),
        )
        .orderBy("source")
    )


def vocab_coverage(
    df: DataFrame,
    cutoffs: tuple = (256, 512, 1024, 2048, 4096, 8192, 16384, 32768),
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size in
    ``cutoffs``, the exact fraction of all corpus token OCCURRENCES
    covered by the that-many most frequent token types ->
    (cutoff int, n_types bigint, covered bigint, total bigint,
    coverage double). The curve is the vocab-sizing tool: pick the knee
    where coverage stops improving; ``remap_rare_tokens`` /
    ``build_vocab`` then implement the chosen cut.

    Ranking ties break (freq DESC, token ASC) so the curve is
    deterministic and engine-exact; ``coverage`` is an exact integer
    ratio rounded query-side (round-before-compare contract).

    Scale shape: the type-frequency table is VOCABULARY-bounded (one row
    per distinct token id — ~1e5..1e6 for real tokenizers), never
    corpus-bounded: the explode feeds a map-side-combinable count, the
    sort-limit to max(cutoffs) is a TakeOrdered (no full sort), and the
    single-partition rank window that follows runs over <= max(cutoffs)
    rows by construction — bounded driver-side work, exactly like the
    model caps in ``build_bigram_model``. The curve and the totals are
    TWO map-only corpus passes (Spark cannot reuse the un-persisted
    frequency exchange across the limit and the global agg — the same
    documented trade as bm25_topk's one-shot); a caller batching many
    curves should persist ``freqs``' slim (token, freq) projection.
    """
    cuts = sorted({int(c) for c in cutoffs})  # dedup: repeated cutoffs
    # would alias two identical _c{c} agg columns -> AMBIGUOUS_REFERENCE
    if not cuts or cuts[0] <= 0:
        raise ValueError("cutoffs must be positive")
    from pyspark.sql import Window

    freqs = (
        df.select(F.explode("tokens").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_f"))
    )
    totals = freqs.agg(
        F.count(F.lit(1)).alias("_v"), F.sum("_f").alias("_n")
    )
    top = freqs.orderBy(F.desc("_f"), F.asc("_t")).limit(cuts[-1])
    w = Window.orderBy(F.desc("_f"), F.asc("_t"))
    ranked = top.withColumn("_r", F.row_number().over(w))
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("_r") <= c, F.col("_f")))
            .cast("long")
            .alias(f"_c{c}")
            for c in cuts
        ]
    )
    stack_args = ", ".join(f"{c}, _c{c}" for c in cuts)
    curve = sums.selectExpr(
        f"stack({len(cuts)}, {stack_args}) AS (cutoff, covered)"
    )
    return (
        curve.crossJoin(F.broadcast(totals))
        .select(
            F.col("cutoff").cast("int"),
            F.col("_v").cast("long").alias("n_types"),
            F.coalesce("covered", F.lit(0)).cast("long").alias("covered"),
            F.col("_n").cast("long").alias("total"),
            F.round(
                F.coalesce("covered", F.lit(0)).cast("double")
                / F.col("_n"),
                6,
            ).alias("coverage"),
        )
        # empty corpus: the frequency table has no rows, so _n aggregates
        # to NULL — emit ZERO rows (matching a SQL CROSS JOIN over the
        # empty freq table) instead of one all-NULL row per cutoff
        # (ADVICE r5: the degenerate case diverged cross-engine)
        .where(F.col("total").isNotNull())
        .orderBy("cutoff")
    )


def vocab_drift(a: DataFrame, b: DataFrame, top: int = 1000) -> DataFrame:
    """Token-distribution drift between two corpus versions (crawl N vs
    crawl N+1 — the monitoring question behind every mixture re-tune):
    -> (token, freq_a, freq_b, rate_a_fp, rate_b_fp, drift_fp), the
    ``top`` tokens by |drift|, where ``rate_*_fp`` is the token's
    occurrence rate in fixed point (``freq * 2^20 div total``)
    and ``drift_fp = rate_a_fp - rate_b_fp``. Exact integers end to end
    (the repo's no-transcendentals contract: a KL term needs a log; the
    per-token rate deltas are the quantities a drift alert actually
    thresholds on, and they are engine-exact). Tokens absent from one
    side count 0 there — a vocabulary APPEARANCE is drift too.

    Scale shape: both inputs reduce through vocab_histogram's two-phase
    map-combinable count (shuffle carries distinct types, not corpora);
    the full-outer join and everything after run on the vocabulary-
    bounded tables; the cut is a TakeOrdered by
    (|drift| DESC, token ASC). Totals ride DECIMAL(38,0), exact past
    int64 at trillion-token corpora."""
    s = 1 << 20
    ha = vocab_histogram(a)
    hb = vocab_histogram(b)
    ta = ha.agg(F.sum("freq")).first()[0] or 0
    tb = hb.agg(F.sum("freq")).first()[0] or 0
    if ta == 0 or tb == 0:
        raise ValueError("vocab_drift: a corpus side has no tokens")
    j = (
        ha.withColumnRenamed("freq", "freq_a")
        .join(hb.withColumnRenamed("freq", "freq_b"), "token", "full_outer")
        .select(
            "token",
            F.coalesce("freq_a", F.lit(0)).cast("long").alias("freq_a"),
            F.coalesce("freq_b", F.lit(0)).cast("long").alias("freq_b"),
        )
    )
    rate_a = F.expr(
        f"CAST(freq_a AS DECIMAL(38,0)) * {s} div {ta}"
    ).cast("long")
    rate_b = F.expr(
        f"CAST(freq_b AS DECIMAL(38,0)) * {s} div {tb}"
    ).cast("long")
    out = j.select(
        "token",
        "freq_a",
        "freq_b",
        rate_a.alias("rate_a_fp"),
        rate_b.alias("rate_b_fp"),
        (rate_a - rate_b).alias("drift_fp"),
    )
    return out.orderBy(
        F.abs(F.col("drift_fp")).desc(), F.asc("token")
    ).limit(int(top))
