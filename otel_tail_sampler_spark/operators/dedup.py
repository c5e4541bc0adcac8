"""Deduplication operators for training-data pipelines over ``documents``.

Not present in the reference (which dedups trace_ids via Redis keys,
/root/reference/src/sampling/evaluator.rs:358-401) — these are the
large-scale-corpus operators the task brief adds as first-class components.

Scale design notes (100 TB posture):

* exact: never shuffle document text — hash to a 32-hex digest first, shuffle
  (digest, doc_id) pairs only; winners semi-join back.
* MinHash+LSH: the only all-pairs-free near-dup path. Shingle -> H minhashes
  -> B band keys -> self-join per band. Work is O(docs x H) map-side plus a
  join whose fan-out is controlled by band selectivity, not O(n^2).
* SimHash: one 16-bit fingerprint per doc via an explode+groupBy(bit
  majority); near-dups are equal fingerprints (or, for a small hamming
  distance, equal bands of the bits).
* n-gram Jaccard: exact pairwise similarity — quadratic in cluster size, so
  it is the VERIFY stage after LSH candidate generation, never the scan stage.
* embedding cosine: brute-force pair filter for small dims; the ANN path for
  scale lives in operators.similarity.

All hashes are md5-derived (functions.hashing) => bit-identical in DuckDB, so
every operator here is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.pairs import band_rows, self_key_pairs


# --- exact dedup -------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the min-id representative of each identical text.

    Returns the surviving rows. The text column never shuffles: the groupBy
    runs on (md5 digest, id) and winners are recovered with a semi-join.
    """
    digests = docs.select(
        F.col("doc_id"), F.md5(F.col("text")).alias("_digest")
    )
    winners = digests.groupBy("_digest").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(winners.select("doc_id"), "doc_id", "semi")


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """(digest, dup_count, min_id) for groups with >1 member."""
    return (
        docs.select(F.md5(F.col("text")).alias("digest"), F.col("doc_id"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


# --- shingling ---------------------------------------------------------------


def words(text: Column) -> Column:
    """Whitespace contract: every paired DuckDB oracle splits with
    ``string_split_regex(trim(text), '\\s+')`` — the exact same
    trim-spaces-then-split-on-\\s+ semantics as this expression, so word
    arrays are bit-identical across engines on ANY whitespace (tabs,
    runs, leading/trailing), including the edge quirks (both engines keep
    a leading empty element for leading non-space whitespace, and both
    yield [''] for empty text — callers guard that case)."""
    return F.split(F.trim(text), r"\s+")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of ``text`` (array<string>); [] if too short."""
    w = words(text)
    return F.array_distinct(
        F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(w) - n),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


# --- MinHash + LSH -----------------------------------------------------------


def minhash_signatures_agg(docs: DataFrame, num_hashes: int = 12) -> DataFrame:
    """(id, h0..h{n-1}) minhash columns via explode + min-aggregate.

    A per-row expression form (one array_min per hash over the shingle
    array) re-evaluates the shingle array once PER HASH because
    CollapseProject inlines the shared subexpression — O(num_hashes x
    shingling) per row. This form shingles once, then runs
    num_hashes min-aggregates in one map-side-combinable groupBy — the shape
    that scales (shuffle carries one partial row per doc per split).

    The per-shingle md5 work is the dominant cost, and it runs BEFORE the
    first exchange — so a small input (few splits) would starve it to one
    task; spread_small_input widens it (no-op at lake scale)."""
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    docs = spread_small_input(docs)
    sh = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("_sh"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.col("_sh"), F.lit(f"|{i}")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_keys(num_hashes: int, bands: int) -> list[Column]:
    """The LSH band keys over :func:`minhash_signatures_agg`'s columns:
    band b's key is the md5 of its ``num_hashes // bands`` minhashes, so
    two docs share band b's key iff they agree on all of that band's
    minhashes (up to an md5 collision)."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    return [
        F.md5(F.concat_ws(",", *[F.col(f"h{b * r + j}") for j in range(r)]))
        for b in range(bands)
    ]


def minhash_lsh_pairs(
    docs: DataFrame, num_hashes: int = 12, bands: int = 4
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    rows_per_band = num_hashes // bands; docs sharing ALL minhashes of any
    band collide. Output: (id_a, id_b, n_bands_shared).
    """
    sig = minhash_signatures_agg(docs, num_hashes=num_hashes)
    rows = band_rows(sig, minhash_band_keys(num_hashes, bands))
    return self_key_pairs(rows, ["band", "key"], "doc_id", "n_bands_shared")


def dedup_components(pairs: DataFrame, all_ids: DataFrame | None = None,
                     id_col: str = "doc_id") -> DataFrame:
    """Connected components over near-dup pairs -> (id, component_id).

    component_id = min id reachable through the pair graph; the canonical
    keeper of each duplicate cluster. Iterative min-label propagation over the
    edge list (each round: one join + one agg), converging in O(diameter)
    rounds — the standard Spark CC pattern for dedup clusters, which are tiny
    in diameter. Deterministic; no driver-side graph.

    ``pairs``: (id_a, id_b) candidate/verified duplicate pairs.
    ``all_ids``: optional full id table; singletons map to themselves.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.col("src")).alias("label"))
        .withColumnRenamed("src", "id")
    )
    # iterative algorithms MUST truncate lineage per round: without a
    # checkpoint, round k replays all k-1 prior joins and the plan (and
    # Catalyst analysis time) grows quadratically
    edges = edges.localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    for _ in range(20):
        # propagate: my new label = min(my label, labels of my neighbors)
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "id")
        )
        new_labels = (
            labels.join(neighbor_labels, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "id")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    out = labels.withColumnRenamed("label", "component_id")
    if all_ids is not None:
        ids = all_ids.select(F.col(id_col).alias("id"))
        out = (
            ids.join(out, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("component_id"), F.col("id")).alias("component_id"),
            )
        )
    return out.withColumnRenamed("id", id_col)


# --- SimHash -----------------------------------------------------------------


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash fingerprint as long) via per-bit word-hash majority
    vote.

    Word hash = first 4 md5 hex chars -> 16-bit int (portable). For each bit
    k: sum(+1/-1 over words) > 0 => bit set. One explode + one groupBy; both
    map-side combinable, so linear at scale.
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    docs = spread_small_input(docs)  # per-word md5 runs pre-exchange
    exploded = docs.select(
        F.col("doc_id"), F.explode(words(F.col("text"))).alias("_w")
    ).withColumn(
        "_h", F.conv(F.substring(F.md5(F.col("_w")), 1, 4), 16, 10).cast("long")
    )
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{k}")
        for k in range(16)
    ]
    per_doc = exploded.groupBy("doc_id").agg(*aggs)
    fp = None
    for k in range(16):
        term = F.when(F.col(f"_b{k}") > 0, F.lit(2 ** k)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return per_doc.select(F.col("doc_id"), fp.cast("long").alias("simhash"))


# --- exact n-gram Jaccard (the verify stage) ----------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-grams for pairs above ``threshold``.

    With ``candidates`` (id_a, id_b) given — e.g. minhash_lsh_pairs output —
    only those pairs are scored (the scalable path). Without, all pairs
    sharing >=1 shingle are scored (exact, quadratic; small inputs only).
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    docs = spread_small_input(docs)  # shingling runs pre-exchange
    sh = docs.select(
        F.col("doc_id"),
        F.explode(word_shingles(F.col("text"), shingle_n)).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    if candidates is not None:
        # candidates-FIRST: drive the intersection from the pair list, never
        # self-joining the shingle table. cand × shingles(id_a) expands each
        # pair by its left doc's shingle set, then an equi-join on
        # (id_b, sh) keeps only shingles the right doc shares. The quadratic
        # all-pairs stage never exists in this plan; cost is
        # O(|candidates| · avg_shingles), and the small pair list is
        # broadcast-able by AQE.
        cand = candidates.select("id_a", "id_b")
        sh_a = sh.select(F.col("doc_id").alias("id_a"), "sh")
        sh_b = sh.select(F.col("doc_id").alias("id_b"), "sh")
        inter = (
            cand.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = self_key_pairs(sh, ["sh"], "doc_id", "inter")
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


# --- train/eval contamination ------------------------------------------------


# default train-side document-frequency cap for contamination(): an 8-gram
# present verbatim in >100 training documents is boilerplate (licenses,
# navigation chrome, templates) whose join fanout grows as T×E while its
# containment signal is ~zero — verbatim mass duplication is exact-dedup's
# job, not decontamination's. Callers chasing exhaustive recall can raise
# it or pass None (documented as unbounded-fanout: default-config runs at
# corpus scale must never be).
DEFAULT_MAX_GRAM_DF = 100


def _containment_pairs(
    train: DataFrame, evals: DataFrame, shingle_n: int, max_gram_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """Shared pair-containment stage for :func:`contamination` (the report)
    and :func:`decontaminate_corpus` (the apply): word-shingle both sides,
    drop train-side hot grams above ``max_gram_df`` BEFORE the equi-join
    (the fanout bound argued in contamination's docstring), and count
    shingle intersections per (eval, train) pair.

    -> ``(inter, sizes, capped)``: ``inter`` = (eval_id, train_id, _i)
    intersection counts; ``sizes`` = (eval_id, _sz) eval shingle counts
    (the containment denominator — never pruned by the cap); ``capped`` =
    a ONE-row (n_capped_grams bigint) frame counting the distinct train
    grams the cap pruned — 0 when no cap or nothing crossed it, so a
    capped (lower-bound) report is distinguishable from an exhaustive one
    in the output itself.

    The intersection joins two corpora (eval rows against train rows),
    not one corpus with itself, so it is written here and not on
    ``functions.pairs.self_key_pairs``, whose id-order filter would
    drop every pair whose eval id is the larger.
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    spark = train.sparkSession
    train = spread_small_input(train)  # shingling runs pre-exchange
    evals = spread_small_input(evals)
    she = evals.select(
        F.col("doc_id").alias("eval_id"),
        F.explode(word_shingles(F.col("text"), shingle_n)).alias("sh"),
    )
    sht = train.select(
        F.col("doc_id").alias("train_id"),
        F.explode(word_shingles(F.col("text"), shingle_n)).alias("sh"),
    )
    if max_gram_df is not None:
        # shingles are distinct per doc, so count(*) == document frequency
        dfs = sht.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
        keep = dfs.filter(F.col("_df") <= max_gram_df).select("sh")
        capped = dfs.filter(F.col("_df") > max_gram_df).agg(
            F.count(F.lit(1)).alias("n_capped_grams")
        )
        sht = sht.join(keep, "sh", "semi")
    else:
        capped = spark.range(1).select(
            F.lit(0).cast("bigint").alias("n_capped_grams")
        )
    sizes = she.groupBy("eval_id").agg(F.count(F.lit(1)).alias("_sz"))
    inter = (
        she.join(sht, "sh")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    return inter, sizes, capped


def contamination(
    train: DataFrame,
    evals: DataFrame,
    shingle_n: int = 8,
    threshold: float = 0.5,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """Decontamination report: per EVAL document, the best-matching train
    document by n-gram CONTAINMENT (|shingles(eval) ∩ shingles(train)| /
    |shingles(eval)|) and whether it crosses ``threshold``.

    Containment, not Jaccard: a short benchmark prompt fully contained in a
    long training document is contamination even though Jaccard is tiny.

    Scale shape: the pair stream is an EQUI-join on the shingle value —
    never an all-pairs product — but a hot gram shared by T train and E
    eval docs still emits T×E intermediate rows, so two controls bound the
    fanout: (1) the default gram length is 8 words (the public
    decontamination norm — GPT-3 used 13-grams, PaLM 8-grams; stop-phrase
    trigrams like "one of the" are near-Cartesian at corpus scale), and
    (2) ``max_gram_df`` drops grams whose TRAIN-side document frequency
    exceeds the cap BEFORE the join (a vocabulary-sized pre-aggregation —
    the same "too-common fingerprints carry no signal" argument winnowing
    makes). The cap only prunes the train side; eval shingle counts (the
    containment denominator) are untouched, so capped containment is a
    conservative lower bound with fanout ≤ max_gram_df·|eval grams|.
    It DEFAULTS ON (``DEFAULT_MAX_GRAM_DF`` = 100): a default-config call
    at corpus scale must be fanout-bounded; pass ``max_gram_df=None``
    explicitly to accept unbounded hot-gram fanout on small inputs.

    Ties on containment break toward the smallest train_id via a window
    rank over (count DESC, train_id ASC) — pure ordering, no arithmetic
    on the id, so string doc_ids work identically to numeric ones.

    -> (eval_id, best_train_id, containment, contaminated, n_capped_grams);
    eval docs with no shared shingle report (null, 0.0, false).
    ``n_capped_grams`` is the same value on every row — the count of
    distinct train grams the cap pruned — so a capped (lower-bound) report
    is distinguishable from an exhaustive one (0 == nothing was pruned;
    the report is exact) without a side channel. It rides a broadcast
    cross-join of a one-row aggregate: no fanout, no extra corpus pass.
    """
    from pyspark.sql import Window

    inter, sizes, capped = _containment_pairs(
        train, evals, shingle_n, max_gram_df
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("_i"), F.asc("train_id")
    )
    best = (
        inter.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("eval_id", "train_id", "_i")
    )
    out = (
        evals.select(F.col("doc_id").alias("eval_id"))
        .join(sizes, "eval_id", "left")
        .join(best, "eval_id", "left")
        .select(
            "eval_id",
            F.col("train_id").alias("best_train_id"),
            F.round(
                F.coalesce(
                    F.col("_i") / F.greatest(F.col("_sz"), F.lit(1)), F.lit(0.0)
                ),
                6,
            ).alias("containment"),
        )
        .withColumn("contaminated", F.col("containment") >= F.lit(threshold))
        .join(F.broadcast(capped))
    )
    return out


def decontaminate_corpus(
    train: DataFrame,
    evals: DataFrame,
    shingle_n: int = 8,
    threshold: float = 0.5,
    max_gram_df: int | None = DEFAULT_MAX_GRAM_DF,
) -> DataFrame:
    """APPLY decontamination: drop from ``train`` every document that
    contaminates ANY eval document — i.e. some eval's shingle CONTAINMENT
    in that train doc reaches ``threshold``. This is the GPT-3 appendix-C
    policy direction (remove the training side, keep the benchmark intact);
    :func:`contamination` is the per-eval REPORT over the same pair stage.

    -> the surviving ``train`` rows, all original columns.

    Scale shape: the pair stage is the shared fanout-bounded equi-join
    (see :func:`_containment_pairs`); the flagged id set it produces is
    tiny relative to the corpus (distinct train ids over threshold), so
    the removal is an anti-join the optimizer can broadcast. Capped
    containment is a conservative LOWER bound (the cap prunes only the
    train side), so a capped run can under-flag eval text that exists
    verbatim in more than ``max_gram_df`` train docs — mass-verbatim
    duplication is the exact-dedup family's job, not this operator's.
    Run :func:`contamination` (whose report carries ``n_capped_grams``)
    to see whether the cap actually pruned anything for a given corpus.
    """
    inter, sizes, _ = _containment_pairs(train, evals, shingle_n, max_gram_df)
    flagged = (
        inter.join(sizes, "eval_id")
        .filter(
            F.col("_i") / F.greatest(F.col("_sz"), F.lit(1))
            >= F.lit(threshold)
        )
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return train.join(flagged, "doc_id", "anti")


# --- token-window (substring) dedup ------------------------------------------


def _window_hashes(
    tokenized: DataFrame, window: int, stride: int
) -> DataFrame:
    """(id, win_start, _h) for every ``window``-token span at ``stride``
    offsets — THE span identity shared by detection (dup_token_spans) and
    trimming (trim_dup_spans): md5 over the comma-joined decimal tokens
    (engine-parity family). Both operators MUST hash identically or
    detect/trim would disagree on what a duplicated span is. Token arrays
    stay behind; only the slim triple leaves this stage."""
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    tokenized = spread_small_input(tokenized)  # window md5s run pre-exchange
    t = F.col("tokens")
    starts = F.when(
        F.size(t) >= window,
        F.sequence(F.lit(0), F.size(t) - window, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return tokenized.select(
        F.col("doc_id"),
        F.explode(starts).alias("win_start"),
        t.alias("_t"),
    ).select(
        "doc_id",
        "win_start",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("_t"), F.col("win_start") + 1, window),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("_h"),
    )


def dup_token_spans(
    tokenized: DataFrame,
    window: int = 32,
    stride: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """Duplicated token-WINDOW detection — the token-level substring-dedup
    signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", public): hash every ``window``-token span at ``stride``
    offsets, flag spans whose hash occurs >= ``min_count`` times across the
    corpus. Downstream trimming can then cut exactly the duplicated ranges
    instead of dropping whole documents.

    -> (doc_id, win_start, dup_count) for each flagged span occurrence.

    Scale shape: the exploded stream is ~n_tok/stride rows of
    (id, start, 32-hex) — the token arrays themselves never shuffle — and
    ONE hash aggregation keyed by the span hash (map-side combinable)
    feeds a semi-join back onto the slim stream. No windows over the
    corpus, no self-join; stride trades recall for stream size exactly as
    in the paper's suffix-array approximations.

    Hashes are md5 over the comma-joined decimal tokens — the repo's
    engine-parity family (shared with trim_dup_spans via _window_hashes),
    so the operator is DuckDB-hash-checkable.
    """
    ex = _window_hashes(tokenized, window, stride)
    counts = (
        ex.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= min_count)
    )
    return ex.join(counts, "_h").select("doc_id", "win_start", "dup_count")


def trim_dup_spans(
    tokenized: DataFrame,
    window: int = 32,
    stride: int = 16,
    min_count: int = 2,
) -> DataFrame:
    """REMOVE duplicated token windows, keeping each span's FIRST occurrence
    — the trimming step the dup_token_spans signal exists for (Lee et al.
    2022 cut duplicated substrings instead of dropping whole documents).

    Semantics (deterministic): for every window hash occurring >=
    ``min_count`` times corpus-wide, occurrences rank by (doc_id,
    win_start); rank-1 survives, every later occurrence masks its token
    range [win_start, win_start+window). Masked ranges union per doc and
    the covered positions are deleted. -> (id, tokens trimmed, n_removed).

    Scale shape: the hash stream reuses dup_token_spans' slim (id, start,
    32-hex) stream — token arrays never shuffle. The first-occurrence
    election is a map-combinable ``groupBy(_h).agg(min(struct(id, start)),
    count)`` — NOT a window over the raw hash: a boilerplate span
    duplicated across millions of documents (the primary input of
    substring dedup, e.g. a license header) is a hot key, and a
    ``row_number`` window would serialize all its occurrences through one
    task with no escape hatch. The groupBy combines partials map-side (one
    (hash, min, count) row per split reaches the shuffle), and the 1:N
    equi-join back onto the slim stream is AQE-skew-splittable — both
    degrade gracefully where a window cannot. An occurrence is masked iff
    its group count >= min_count and it is not the group's (id, start)
    minimum (struct ordering == the lexicographic (doc_id, win_start)
    rank-1 election). The per-doc mask is a collected list of START
    offsets (bounded by n_tok/stride), joined back, and deletion is ONE
    JVM filter expression over the token array (position-covered test per
    element — no posexplode, no Python).
    """
    ex = _window_hashes(tokenized, window, stride)
    groups = (
        ex.groupBy("_h")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("win_start"))).alias("_first"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .filter(F.col("_cnt") >= min_count)
        .select("_h", "_first")
    )
    masked = (
        ex.join(groups, "_h")
        .filter(
            ~(
                (F.col("_first.doc_id") == F.col("doc_id"))
                & (F.col("_first.win_start") == F.col("win_start"))
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("win_start")).alias("_mask"))
    )
    out = tokenized.join(masked, "doc_id", "left").withColumn(
        "_mask", F.coalesce(F.col("_mask"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("tokens"),
        lambda x, i: ~F.exists(
            F.col("_mask"), lambda s: (s <= i) & (i < s + window)
        ),
    )
    # materialize `kept` in its own projection so the per-element coverage
    # test is not inlined twice (once for the output, once for n_removed)
    return (
        out.select(
            F.col("doc_id"),
            F.size(F.col("tokens")).alias("_n0"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            F.col("_kept").alias("tokens"),
            (F.col("_n0") - F.size("_kept")).cast("int").alias("n_removed"),
        )
    )


def dedup_lines(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Global LINE-level dedup (the C4/CCNet boilerplate rule): any line
    whose exact text occurs >= ``min_count`` times corpus-wide keeps only
    its FIRST occurrence (lexicographic (doc_id, line position)); every
    later occurrence is deleted and the document text is rebuilt from the
    surviving lines in order. C4 cut repeated three-sentence spans, CCNet
    repeated paragraphs — this is that family at line granularity, the
    natural unit for license headers / navigation chrome / footers.

    Lines split and re-join on "\\n". -> original columns with ``text``
    rebuilt, plus ``n_lines_removed``. A document whose every
    line is a later duplicate rebuilds to the empty string.

    Scale shape: mirrors trim_dup_spans — only the slim (id, pos, 32-hex)
    triple shuffles (line text never does); the first-occurrence election
    is a map-combinable ``groupBy(_h).agg(min(struct), count)``, never a
    window over the raw hash (a corpus-wide boilerplate line is a hot key
    by construction); the join back is AQE-skew-splittable; and the
    deletion is one JVM filter over the split array by position.
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input

    occ = (
        spread_small_input(docs)
        .select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "_line"),
        )
        .select("doc_id", "pos", F.md5(F.col("_line")).alias("_h"))
    )
    groups = (
        occ.groupBy("_h")
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("_first"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .filter(F.col("_cnt") >= min_count)
        .select("_h", "_first")
    )
    masked = (
        occ.join(groups, "_h")
        .filter(
            ~(
                (F.col("_first.doc_id") == F.col("doc_id"))
                & (F.col("_first.pos") == F.col("pos"))
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_drop"))
    )
    out = docs.join(masked, "doc_id", "left").withColumn(
        "_drop", F.coalesce(F.col("_drop"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.split(F.col("text"), "\n"),
        lambda x, i: ~F.array_contains(F.col("_drop"), i),
    )
    others = [c for c in docs.columns if c != "text"]
    return out.select(
        *others,
        F.concat_ws("\n", kept).alias("text"),
        F.size("_drop").cast("int").alias("n_lines_removed"),
    )


# --- embedding cosine near-dup -------------------------------------------------


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine of two float arrays, JVM-side (zip_with + aggregate, no UDF)."""
    # cast BEFORE multiplying: float32*float32-then-cast differs from
    # double*double in the last bits, which breaks engine-parity checks
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def embedding_dup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Brute-force cosine pair filter (id_a < id_b, sim >= threshold).

    Quadratic — the small-input / verify path. The scale path is
    :func:`embedding_dup_pairs_lsh`, which pairs vectors sharing a
    hyperplane-LSH band key first and scores only those pairs.
    """
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_sim(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def embedding_dup_pairs_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bands: int = 4,
    band_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup pairs — the 100 TB scale path.

    band_bits sets candidate selectivity: 2^band_bits buckets per band.
    At the near-dup regime (threshold ~0.95, per-bit collision ~0.9) 8
    bits keeps ~89% single-config recall while cutting candidate fanout
    ~2^4x vs 4 bits (measured 473k -> ~10k candidate pairs on a 2k-vector
    corpus); exact duplicates are found at ANY setting (identical sign
    bits by construction). Size band_bits up with the corpus — the
    per-bucket population, not the bucket count, drives join cost.

    Candidate generation is all-pairs-free: each vector gets ``n_bands``
    bucket keys (sign bits of ``band_bits`` random-hyperplane projections,
    Charikar 2002); pairs colliding in ANY band are candidates. Only
    (band, key, id) triples shuffle through the candidate join — vectors
    are joined back AFTER the pair set is deduplicated, so the wide
    embedding column never rides the band explosion. The exact cosine
    filter then runs on the (small) candidate set, like the MinHash-LSH
    -> ngram-Jaccard composition above.

    Recall < 1 by construction (a pair missed by every band is lost);
    tune n_bands/band_bits for the recall/cost point. Deterministic given
    the seed, so the full plan remains oracle-checkable in SQL.
    """
    from otel_tail_sampler_spark.functions.spread import spread_small_input
    from otel_tail_sampler_spark.operators.similarity import _sign_bits, hyperplanes

    planes = hyperplanes(dim, n_bands * band_bits, seed)
    emb = spread_small_input(emb)  # band projections run pre-exchange
    # aliased like va/vb below, so the scan-and-spread exchange under
    # the band rows is the one the vector join-back reuses
    base = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    keys = [
        _sign_bits(F.col("_v"), planes[b * band_bits : (b + 1) * band_bits])
        for b in range(n_bands)
    ]
    # NOTE (r7): the sign-bit fold stays the sequential-fold EXPRESSION
    # (a vectorized kernel's pairwise summation could flip a near-zero
    # sign bit vs the oracle's replayed fold order), and the self-join
    # needs no persist — its two identical exchange children hit
    # ReusedExchange, so the projection runs once (persisting it was
    # measured ~0.3 s slower: pure cache-write overhead).
    cand = self_key_pairs(band_rows(base, keys), ["band", "key"], "_id", None)
    va = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    vb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_sim(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


def pick_dedup_representatives(
    components: DataFrame, metrics: DataFrame, metric_col: str = "n_words"
) -> DataFrame:
    """Quality-aware duplicate-cluster election: per component, KEEP the
    member with the highest ``metric_col`` (ties -> min id) instead of
    the min-id default — the "keep the longest/best copy" policy most
    prep pipelines want once near-dup clusters exist.
    -> (component_id, keep_doc_id, keep_<metric>, n_members).

    Prefer an integer metric (word/token counts): exact across engines,
    so the election is oracle-checkable; a float score works but must be
    rounded identically on both sides before ranking. NULL metrics rank
    LAST (SQL NULLS LAST semantics — Spark's struct-min would otherwise
    rank them first); a cluster with only null metrics keeps its min id
    with a NULL keep value. ``keep_<metric>`` is emitted as long.

    Scale shape: one equi-join (components are slim (id, component)
    pairs) and one map-combinable min(struct(-metric, id)) aggregation —
    a corpus-wide boilerplate cluster with millions of members combines
    partially on every task, unlike a row_number window over the
    component, which would serialize the hot cluster through one task.
    """
    # NULL metrics rank LAST (matching SQL's default NULLS LAST ordering
    # — Spark's struct-min would otherwise rank them FIRST and elect a
    # null-metric member): coalesce to a +inf sentinel in the negated
    # key, and surface NULL back out if a cluster has only null metrics.
    sentinel = F.lit(9223372036854775807)
    nm = F.coalesce(-F.col(metric_col).cast("long"), sentinel)
    j = components.join(
        metrics.select(F.col("doc_id"), F.col(metric_col)), "doc_id"
    )
    agg = j.groupBy("component_id").agg(
        F.min(
            F.struct(nm.alias("nm"), F.col("doc_id").alias("id"))
        ).alias("_m"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        "component_id",
        F.col("_m.id").alias("keep_doc_id"),
        F.when(F.col("_m.nm") == sentinel, F.lit(None)).otherwise(
            -F.col("_m.nm")
        ).alias(f"keep_{metric_col}"),
        "n_members",
    )


def apply_dedup(
    docs: DataFrame, pairs: DataFrame, metric_col: str | None = None
) -> DataFrame:
    """APPLY near-dup dedup: given candidate/verified duplicate ``pairs``
    (id_a, id_b), return the surviving rows of ``docs`` — exactly one
    representative per duplicate cluster plus every singleton, all
    original columns. The report-side siblings are
    :func:`dedup_components` (labels) and
    :func:`pick_dedup_representatives` (the election).

    ``metric_col=None``: keep the component label itself (min reachable
    id) — no election join at all. ``metric_col`` given (must be a column
    of ``docs``, prefer an integer count): keep the member with the
    highest metric, ties to min id, via the map-combinable argmax in
    :func:`pick_dedup_representatives`.

    Scale shape: components are computed only over pair-participating ids
    (singletons never enter the label propagation — at corpus scale the
    pair graph is orders of magnitude smaller than the corpus), and the
    drop set is members-minus-keepers of that graph, so the final
    ``docs`` anti-join is against a small id list the optimizer can
    broadcast. NULL metrics rank last, per the election's contract.
    """
    comps = dedup_components(pairs)
    if metric_col is None:
        drop = comps.filter(F.col("doc_id") != F.col("component_id")).select(
            "doc_id"
        )
    else:
        reps = pick_dedup_representatives(
            comps,
            docs.select(F.col("doc_id"), F.col(metric_col)),
            metric_col=metric_col,
        )
        drop = comps.select("doc_id").join(
            reps.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "anti"
        )
    return docs.join(drop, "doc_id", "anti")


def source_overlap(pairs: DataFrame, meta: DataFrame) -> DataFrame:
    """Cross-source duplication matrix: for each unordered pair of
    ``source`` labels, how many duplicate pairs connect them — the
    "which sources duplicate each other" audit that drives decisions
    like SlimPajama's cross-source dedup (dedup within+across sources)
    vs per-source-only. Works over ANY pair stream (exact, MinHash-LSH,
    SimHash, embedding near-dup).

    -> (source_a, source_b, pair_count), labels canonicalized so
    a <= b; the diagonal rows (a == b) are within-source duplication.

    Scale shape: ``meta`` is projected to the slim (doc_id, source) pair
    before joining, and the pair graph is orders of magnitude smaller
    than the corpus, so AQE broadcasts the pair side; the final count
    groups on a tiny |groups|^2 key space (map-combinable).
    """
    m = meta.select(F.col("doc_id"), F.col("source"))
    a = m.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_ga"))
    b = m.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_gb"))
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("_ga", "_gb").alias("source_a"),
            F.greatest("_ga", "_gb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def dedup_cluster_stats(components: DataFrame) -> DataFrame:
    """Near-dup cluster size histogram -> (cluster_size, n_clusters):
    the one-line answer to "how duplicated is this corpus" (size 1 =
    unique docs; the tail is the boilerplate). Two map-combinable
    aggregations — per-component size, then per-size count — so a
    million-member boilerplate cluster costs its row count, never a
    single-task window.
    """
    sizes = components.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


# --- incremental (cross-corpus) dedup ----------------------------------------


def reference_dup_pairs(
    new: DataFrame,
    ref: DataFrame,
    method: str = "minhash",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Duplicates of a NEW batch against an EXISTING reference corpus —
    the incremental-ingestion question ("which of this crawl's documents
    do we already have?"), the tokens-tier analog of the reference
    engine's exported-manifest dedup (the anti-join S11 answers for
    spans; evaluator.rs:358-401). -> (id_new, id_ref, ...evidence):

    * ``method="exact"``: identical text. The ref side aggregates to ONE
      (digest, min-id) row per DISTINCT text before the join, so a
      reference containing millions of copies of a boilerplate page
      contributes one row, and each new duplicate emits exactly one pair
      (evidence column ``n_ref_copies``). Text never shuffles — digests
      do.
    * ``method="minhash"``: banded-MinHash near-dup candidates across
      the two corpora (same banding as :func:`minhash_lsh_pairs`, ref
      signatures vs new signatures — never new x new or ref x ref
      pairs). Evidence: ``n_bands_shared`` plus ``n_agree``, the count
      of equal signature components (an unbiased Jaccard estimate in
      [0, num_hashes]), the column to filter on to verify candidates at
      a similarity bar. Re-ingesting a standing corpus's signatures each
      batch is wasteful at scale — materialize
      :func:`minhash_signatures_agg` over the reference once and join
      new batches against it (this function recomputes both sides, the
      one-shot shape). The band keys are :func:`minhash_band_keys`. The
      join pairs the new side with the ref side on (band, key): two
      corpora, not one, so it has no id-order filter and does not go
      through ``functions.pairs.self_key_pairs``.
    """
    if method == "exact":
        rd = (
            ref.select(F.md5(F.col("text")).alias("_digest"), F.col("doc_id"))
            .groupBy("_digest")
            .agg(
                F.min("doc_id").alias("id_ref"),
                F.count(F.lit(1)).cast("long").alias("n_ref_copies"),
            )
        )
        nd = new.select(
            F.col("doc_id").alias("id_new"),
            F.md5(F.col("text")).alias("_digest"),
        )
        return nd.join(rd, "_digest").select(
            "id_new", "id_ref", "n_ref_copies"
        )
    if method != "minhash":
        raise ValueError(
            f"unknown method: {method!r} (want 'exact' or 'minhash')"
        )
    keys = minhash_band_keys(num_hashes, bands)

    def sides(docs: DataFrame, tag: str):
        # one PACKED signature string rides the band explosion instead
        # of num_hashes separate columns (slimmer shuffle rows); the
        # component-wise compare happens post-aggregation over the small
        # candidate set, where an interpreted HOF costs nothing
        sig = minhash_signatures_agg(docs, num_hashes)
        packed = sig.select(
            F.col("doc_id").alias(f"id_{tag}"),
            F.concat_ws(
                ",", *[F.col(f"h{i}") for i in range(num_hashes)]
            ).alias(f"sig_{tag}"),
            *[f"h{i}" for i in range(num_hashes)],  # read by the band keys
        )
        return band_rows(packed, keys).select(
            f"id_{tag}", f"sig_{tag}", "band", "key"
        )

    n_side = sides(new, "new")
    r_side = sides(ref, "ref")
    cand = (
        n_side.join(r_side, ["band", "key"])
        .groupBy("id_new", "id_ref")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bands_shared"),
            F.min("sig_new").alias("_sn"),  # constant within the group
            F.min("sig_ref").alias("_sr"),
        )
    )
    agree = F.aggregate(
        F.zip_with(
            F.split(F.col("_sn"), ","),
            F.split(F.col("_sr"), ","),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")
    return cand.withColumn("n_agree", agree).drop("_sn", "_sr")
