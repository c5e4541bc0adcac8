"""Text-analysis operators for training-data pipelines over ``documents``.

Language-ID (stopword-ratio heuristic), quality features, token counting
(whitespace + BPE-ish regex), and winnowing fingerprints. All but
the winnowing fingerprints (Arrow-batched mapInPandas stages) are pure
column expressions — JVM-side, codegen-friendly, linear at any scale, and
DuckDB-oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.pairs import self_key_pairs
from otel_tail_sampler_spark.operators.dedup import words

# tiny public stopword lists (top function words per language)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "por"],
}


def token_count_ws(text: Column) -> Column:
    """Whitespace tokenization count."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(words(text))
    )


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish subword proxy: count word pieces + digit runs + punctuation as
    separate tokens (regexp split). A cheap stand-in for a real tokenizer that
    preserves the ~tokens/word ratio shape."""
    pieces = F.split(text, r"(?=[^\w\s])|(?<=[^\w\s])|\s+")
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


def stopword_ratio(text: Column, lang: str) -> Column:
    """fraction of words that are in ``lang``'s stopword list."""
    w = words(F.lower(text))
    hits = F.size(F.filter(w, lambda x: x.isin(STOPWORDS[lang])))
    return hits / F.greatest(F.size(w), F.lit(1))


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword ratios; 'und' (undetermined) when all
    zero. N-gram-free heuristic — deterministic and oracle-expressible."""
    ratios = [(lang, stopword_ratio(text, lang)) for lang in STOPWORDS]
    best = F.greatest(*[r for _, r in ratios])
    out = F.lit("und")
    for lang, r in reversed(ratios):  # earlier langs win ties
        out = F.when((best > 0) & (r == best), F.lit(lang)).otherwise(out)
    return out


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals: length, word stats, punct/digit/stopword
    ratios — the standard pre-training corpus filters."""
    t = F.col("text")
    w = words(t)
    n_chars = F.length(t)
    n_words = token_count_ws(t)
    return docs.withColumns(
        {
            "n_chars_m": n_chars,
            "n_words": n_words,
            "mean_word_len": (
                F.aggregate(
                    w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
                )
                / F.greatest(n_words, F.lit(1))
            ).cast("double"),
            "punct_ratio": (
                F.length(F.regexp_replace(t, r"[^\p{Punct}]", "")) /
                F.greatest(n_chars, F.lit(1))
            ).cast("double"),
            "digit_ratio": (
                F.length(F.regexp_replace(t, r"[^0-9]", "")) /
                F.greatest(n_chars, F.lit(1))
            ).cast("double"),
            "stopword_ratio_en": stopword_ratio(t, "en").cast("double"),
        }
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, public):

    - ``dup_word_frac``   — fraction of word occurrences that are repeats
      (1 - distinct/total); high => boilerplate / keyword stuffing.
    - ``top_word_frac``   — most frequent word's share of all words.
    - ``top_bigram_frac`` — most frequent 2-gram's share of all bigrams.

    Scale shape: one explode + two hash aggregations per signal family
    (per-(doc,gram) counts, then per-doc), all map-side combinable on the
    doc id — no windows, no joins on text, linear at any corpus size. The
    bigram stream comes from ``zip_with`` over two slices of the words
    array (argument expressions evaluate once per row, unlike outer-scope
    references inside ``transform`` lambdas which re-evaluate per element).

    Docs with <2 words have no bigrams; their ``top_bigram_frac`` is 0.0.
    """
    t = F.col("text")
    w = words(t)
    wc = docs.select(F.col("doc_id"), F.explode(w).alias("_w"))
    per_w = wc.groupBy("doc_id", "_w").agg(F.count(F.lit(1)).alias("_c"))
    wagg = per_w.groupBy("doc_id").agg(
        F.sum("_c").alias("n_words"),
        F.count(F.lit(1)).alias("_n_distinct"),
        F.max("_c").alias("_top_w"),
    )
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bc = docs.filter(F.size(w) >= 2).select(
        F.col("doc_id"), F.explode(bigrams).alias("_b")
    )
    per_b = bc.groupBy("doc_id", "_b").agg(F.count(F.lit(1)).alias("_c"))
    bagg = per_b.groupBy("doc_id").agg(
        F.sum("_c").alias("_n_bigrams"), F.max("_c").alias("_top_b")
    )
    denom_w = F.greatest(F.col("n_words"), F.lit(1))
    return (
        docs.select("doc_id")
        .join(wagg, "doc_id", "left")
        .join(bagg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.round(
                F.coalesce(
                    (F.col("n_words") - F.col("_n_distinct")) / denom_w, F.lit(0.0)
                ),
                6,
            ).alias("dup_word_frac"),
            F.round(
                F.coalesce(F.col("_top_w") / denom_w, F.lit(0.0)), 6
            ).alias("top_word_frac"),
            F.round(
                F.coalesce(
                    F.col("_top_b") / F.greatest(F.col("_n_bigrams"), F.lit(1)),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_bigram_frac"),
        )
    )


# PII patterns kept RE2-compatible (no lookarounds) so the same literals run
# in Java regex (Spark) and RE2 (DuckDB oracle) with identical semantics.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}
PII_ORDER = ["email", "phone", "ipv4"]  # phone before ipv4: disjoint separators


def redact_pii(docs: DataFrame) -> DataFrame:
    """Scrub emails / US-style phone numbers / IPv4 literals, replacing each
    with ``<EMAIL>`` / ``<PHONE>`` / ``<IPV4>``; adds per-category match
    counts and the redacted text.

    Pure ``regexp_replace``/``regexp_extract_all`` column expressions —
    single projection, no shuffle, linear scan at any corpus size.
    Categories apply in ``PII_ORDER`` so the output is well-defined when
    patterns could otherwise overlap.
    """
    t = F.col("text")
    out = docs
    red = t
    for name in PII_ORDER:
        pat = PII_PATTERNS[name]
        out = out.withColumn(
            f"n_{name}", F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0)))
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn("redacted", red)


def winnow_fingerprints(
    docs: DataFrame, k: int = 4, window: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm): md5 over every k-word gram, then the minimum of
    each sliding window of ``window`` consecutive gram hashes, distinct per
    document. Guarantee: two documents sharing any run of at least
    ``k + window - 1`` words share at least one fingerprint, while only
    ~2/(window+1) of gram hashes are retained.

    Scale shape: winnowing is per-document-local, so this is a SHUFFLE-FREE
    Arrow-batched mapInPandas stage — scan -> fingerprint pipelined inside
    one task, linear at any table size. The column-expression alternatives
    all lose: a transform() lambda over a named gram array re-inlines the
    whole-text regex+split into EVERY element evaluation (measured 36s for
    500 docs — O(n_grams x n_words) per doc), and breaking that with an
    aggregation/exchange barrier pays 1-3 shuffles of every word for an
    operation that needs none. The per-doc dedup also happens locally here,
    so no distinct shuffle either.

    Returns (doc_id, fp) rows, one per distinct retained fingerprint.
    Parity: md5 over ASCII grams and lexicographic min on hex digests are
    engine-identical (DuckDB oracle in __spark_entry__.py).

    This md5 word-gram form pays one hashlib call per gram (Python-rate) —
    it is the oracle-reference shape. For the 10^12-doc scale path use
    ``winnow_fingerprints_poly`` below: same winnowing guarantee, every
    per-doc step a numpy primitive, still bit-exactly oracle-checked.
    """
    import hashlib
    import re
    from typing import Iterator

    import pandas as pd

    # RE2-exact whitespace set (the DuckDB twin is string_split_regex
    # '\\s+', RE2 = ASCII [ \\t\\n\\f\\r], NO \\x0b): Python's \\s is
    # Unicode-aware and would normalize NBSP/\u2028 where the oracle
    # does not (same class as the bpe._py_words review finding)
    ws = re.compile(r"[ \t\n\f\r]+")

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids: list = []
            fps: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                norm = ws.sub(" ", str(text)).strip(" ").lower()
                w = norm.split(" ")
                if len(w) >= k:
                    hs = [
                        hashlib.md5(" ".join(w[i : i + k]).encode()).hexdigest()
                        for i in range(len(w) - k + 1)
                    ]
                else:  # short doc: one whole-text gram
                    hs = [hashlib.md5(norm.encode()).hexdigest()]
                uniq = sorted(
                    {min(hs[j : j + window]) for j in range(max(len(hs) - window, 0) + 1)}
                )
                ids.extend([did] * len(uniq))
                fps.extend(uniq)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    # explicit projection: mapInPandas is opaque to Catalyst column pruning
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return spread_small_input(
        docs.select(F.col("doc_id"), F.col("text"))
    ).mapInPandas(fn, f"doc_id {id_type}, fp string")


def hash_tokenize(
    docs: DataFrame, vocab_size: int = 65536, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic hash tokenizer: words -> int32 ids via md5(word) mod
    ``vocab_size`` (the "hashing trick"). Bridges the documents table to the
    input_hint tokenized shape (doc_id, tokens array<int>, n_tok) so every
    token-level operator (pack / shard / remap / dup-span) composes onto raw
    text without an external vocabulary artifact.

    Scale shape: pure scan-time projection — transform() over the words
    array, all JVM-side, no shuffle, no Python. md5-derived ids are the
    engine-parity hash family the repo uses everywhere (bit-identical in
    DuckDB, so token arrays hash-check exactly).

    Whitespace contract: runs of ANY whitespace collapse to one separator
    before splitting (normalize -> trim -> split), so tab- or
    multi-space-separated text tokenizes identically in Spark and the
    DuckDB oracle — a bare split-on-\\s+ would emit a leading empty word
    for leading tabs (Spark trim strips spaces only). Known edge: Java
    regex ``\\s`` includes vertical tab (\\x0B); DuckDB/RE2 ``\\s`` does
    not — text containing \\x0B (absent from the synthetic corpus and
    vanishingly rare in real text) tokenizes differently across engines.

    NULL text maps to the empty token array (n_tok 0), same as empty
    text — a bare ``length(norm) == 0`` predicate would evaluate NULL and
    fall through to the otherwise branch, emitting NULL tokens.
    """
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    w = F.split(norm, " ")
    empty = F.coalesce(F.length(norm) == 0, F.lit(True))
    toks = F.when(
        empty, F.array().cast("array<int>")
    ).otherwise(
        F.transform(
            w,
            lambda x: F.pmod(
                F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long"),
                F.lit(int(vocab_size)),
            ).cast("int"),
        )
    )
    # n_tok from the pre-transform words array: size(transform(w)) == size(w)
    # and Catalyst does not rewrite the former, so deriving n_tok from the
    # token expression would run the per-word md5 twice (CollapseProject
    # re-inlines shared subexpressions across chained projections)
    n_tok = F.when(empty, F.lit(0)).otherwise(F.size(w)).cast("int")
    return docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        toks.alias("tokens"),
        n_tok.alias("n_tok"),
    )


def _capped_fp_base_and_pairs(
    fps: DataFrame, max_fp_df: int | None, min_shared: int
) -> tuple[DataFrame, DataFrame]:
    """Shared core of winnow_candidate_pairs / winnow_similarity_report:
    the hot-fp-capped (_id, _fp) base and the (id_a, id_b, n_shared) pair
    list over it. One definition so the pair list and the report can never
    diverge on cap semantics."""
    base = fps.select(F.col("doc_id").alias("_id"), F.col("fp").alias("_fp"))
    if max_fp_df is not None:
        keep = (
            base.groupBy("_fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("_fp")
        )
        base = base.join(keep, "_fp", "semi")
    pairs = self_key_pairs(base, ["_fp"], "_id", "n_shared").filter(
        F.col("n_shared") >= min_shared
    )
    return base, pairs


def winnow_candidate_pairs(
    fps: DataFrame, max_fp_df: int | None = 16, min_shared: int = 1
) -> DataFrame:
    """Candidate duplicate pairs from SHARED winnowing fingerprints — the
    MOSS composition: winnow_fingerprints(_poly) -> shared-fp pairs -> the
    candidates-first exact Jaccard verify (dedup.ngram_jaccard_pairs).

    Input is (id, fp) rows as both winnow operators emit (already distinct
    per document). Output: (id_a, id_b, n_shared) for unordered pairs
    sharing >= ``min_shared`` surviving fingerprints, id_a < id_b.

    Scale shape mirrors MinHash LSH banding: the pair stream is a self
    equi-join on the fingerprint VALUE — never all-pairs — and
    ``max_fp_df`` drops fingerprints whose document frequency exceeds the
    cap before the join (winnowing's own argument: a fingerprint shared by
    everyone carries no signal, and a hot fp shared by D docs would emit
    D² pair rows). With the cap, per-fp fanout is bounded by
    max_fp_df², and only (fp, id) rows ever shuffle.
    """
    _, pairs = _capped_fp_base_and_pairs(fps, max_fp_df, min_shared)
    return pairs


def winnow_similarity_report(
    fps: DataFrame, max_fp_df: int | None = 16, min_shared: int = 1
) -> DataFrame:
    """The full MOSS report over winnowing fingerprints: candidate pairs
    plus BOTH containment fractions — n_shared/|fps(a)| and
    n_shared/|fps(b)| (what MOSS shows as per-file match percentages; a
    short file fully inside a long one scores high on its own side).

    Fractions are computed over the CAP-SURVIVING fingerprint sets
    (numerator and denominator consistently), so the hot-fp drop cannot
    inflate a score. Scale shape = winnow_candidate_pairs + one per-doc
    count aggregate (vocabulary-of-fingerprints sized) joined to the
    (small) pair list. Outputs are exact integer ratios -> engine-stable
    rounding.

    -> (id_a, id_b, n_shared, frac_a, frac_b), rounded to 6 places.
    """
    base, pairs = _capped_fp_base_and_pairs(fps, max_fp_df, min_shared)
    sizes = base.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(F.col("n_shared") / F.col("_sa"), 6).alias("frac_a"),
            F.round(F.col("n_shared") / F.col("_sb"), 6).alias("frac_b"),
        )
    )


# winnow_fingerprints_poly's Karp-Rabin hash: base and modulus
POLY_BASE = 257
POLY_MOD = 1_048_573


def _poly_powers(k: int, base: int, mod: int) -> list[int]:
    """base^(k-1-j) % mod for j in 0..k-1 — shared by the numpy kernel and
    the DuckDB oracle so both hash with literally the same coefficients."""
    return [pow(base, k - 1 - j, mod) for j in range(k)]


def winnow_fingerprints_poly(
    docs: DataFrame, k: int = 16, window: int = 8
) -> DataFrame:
    """Winnowing over CHARACTER k-grams with a Karp-Rabin polynomial hash —
    the vectorized scale path next to the md5 word-gram variant above.

    winnow_fingerprints pays one hashlib call per gram (Python-rate: fine
    for the oracle shape, the bottleneck at 10^12 docs). Here every per-doc
    step is a numpy primitive: code points -> sliding_window_view(k) ->
    row-dot with the power vector -> %% POLY_MOD -> sliding window-min ->
    unique. Same shuffle-free mapInPandas plan.

    The constants are chosen so every intermediate is integer-exact BOTH in
    int64 and in IEEE754 doubles (code point < 128, power < POLY_MOD < 2^20 =>
    product < 2^27, 16-term sum < 2^31), which is what lets the DuckDB
    oracle — list_dot_product over the same power literals, computed in
    doubles — match bit-for-bit. ASCII contract as the rest of the corpus
    ops: non-ASCII code points are replaced ('?') before hashing.
    """
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd

    # RE2-exact whitespace set (the DuckDB twin is string_split_regex
    # '\\s+', RE2 = ASCII [ \\t\\n\\f\\r], NO \\x0b): Python's \\s is
    # Unicode-aware and would normalize NBSP/\u2028 where the oracle
    # does not (same class as the bpe._py_words review finding)
    ws = re.compile(r"[ \t\n\f\r]+")
    pw = np.array(_poly_powers(k, POLY_BASE, POLY_MOD), np.int64)

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            ids: list = []
            fps: list = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                norm = ws.sub(" ", str(text)).strip(" ").lower()
                cp = np.frombuffer(
                    norm.encode("ascii", "replace"), np.uint8
                ).astype(np.int64)
                if len(cp) >= k:
                    wv = np.lib.stride_tricks.sliding_window_view(cp, k)
                    hs = (wv * pw).sum(axis=1) % POLY_MOD
                else:  # short doc: one whole-text hash (aligned power tail)
                    hs = np.array([(cp * pw[k - len(cp) :]).sum() % POLY_MOD])
                if len(hs) <= window:
                    uniq = [int(hs.min())]
                else:
                    wm = np.lib.stride_tricks.sliding_window_view(hs, window)
                    uniq = np.unique(wm.min(axis=1)).tolist()
                ids.extend([did] * len(uniq))
                fps.extend(uniq)
            yield pd.DataFrame({"doc_id": ids, "fp": fps})

    from otel_tail_sampler_spark.functions.spread import spread_small_input

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return spread_small_input(
        docs.select(F.col("doc_id"), F.col("text"))
    ).mapInPandas(fn, f"doc_id {id_type}, fp long")


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility report per ``source`` group: how many characters
    each tokenization scheme spends per token ->
    (group, n_docs bigint, sum_chars bigint, sum_ws bigint,
    sum_bpe bigint, chars_per_ws_fp bigint, chars_per_bpe_fp bigint).
    ``ws`` counts whitespace words, ``bpe`` the BPE-ish subword proxy
    (word pieces + digit runs + punctuation); the fixed-point ratios are
    2^20-scaled exact integer divisions (the BM25 idiom), so a tokenizer
    comparison ("does BPE earn its 1.3x token inflation on src7's
    punctuation-heavy text?") is bit-reproducible. High chars-per-token
    = compressive tokenization; a source whose ratio diverges from the
    corpus norm is mis-tokenized or malformed.

    Scale shape: one map-side-combinable aggregation over a projection;
    output bounded by group cardinality. Zero regex work beyond the two
    count expressions already used by token_counts.
    """
    s = 1 << 20
    agg = (
        docs.select(
            F.col("source").alias("grp"),
            F.length(F.col("text")).cast("long").alias("_nc"),
            token_count_ws(F.col("text")).cast("long").alias("_ws"),
            token_count_bpe_ish(F.col("text")).cast("long").alias("_bp"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nc").cast("long").alias("sum_chars"),
            F.sum("_ws").cast("long").alias("sum_ws"),
            F.sum("_bp").cast("long").alias("sum_bpe"),
        )
    )
    return agg.select(
        F.col("grp").alias("source"),
        "n_docs",
        "sum_chars",
        "sum_ws",
        "sum_bpe",
        F.expr(f"CAST({s} AS DECIMAL(38,0)) * sum_chars"
               " div greatest(sum_ws, 1)").cast("bigint")
        .alias("chars_per_ws_fp"),
        F.expr(f"CAST({s} AS DECIMAL(38,0)) * sum_chars"
               " div greatest(sum_bpe, 1)").cast("bigint")
        .alias("chars_per_bpe_fp"),
    )
