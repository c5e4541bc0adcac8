"""Training-example augmentation: deterministic fill-in-the-middle (FIM).

FIM (Bavarian et al. 2022, "Efficient Training of Language Models to Fill
in the Middle") rewrites a causal LM training sequence so the model learns
infilling: split tokens into (prefix, middle, suffix), then emit the PSM
layout  [PRE] prefix [SUF] suffix [MID] middle  — the middle moves to the
end so a left-to-right model predicts it conditioned on both sides. The
standard recipe applies the transform to a sampled fraction of documents
(``rate``) and leaves the rest untouched.

Engine-portable determinism: whether a document is transformed AND where
the two split points fall are pure md5-hash functions of the document id
(functions/hashing.py — bit-identical in Spark and DuckDB), so the output
is reproducible across runs, partitionings, and engines; the oracle
replays the exact splits in SQL.

Scale shape: one scan-time projection — slice/concat expressions, fully
whole-stage-codegen, no shuffle, no Python stage. Apply BEFORE
pack_sequences (the reference order in corpus-prep pipelines) so packed
examples carry the reordered layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.hashing import hash_frac

# the md5 salt of mask_tokens' per-position coin: another value is a fresh
# mask epoch over the same corpus
MASK_SEED = "mlm"


def fim_transform(
    df: DataFrame,
    pre_id: int,
    mid_id: int,
    suf_id: int,
    rate: float = 0.5,
    min_len: int = 4,
) -> DataFrame:
    """Apply PSM fill-in-the-middle to a deterministic ``rate`` fraction
    of documents (hash-selected by id; documents shorter than ``min_len``
    tokens always pass through). Adds ``fim_applied`` and rewrites
    ``tokens``.

    Split points: with n = len(tokens), p1 = floor(f1 * (n+1)) and
    p2 = p1 + floor(f2 * (n-p1+1)) where f1, f2 are md5 hash fractions of
    the id — so 0 <= p1 <= p2 <= n, and prefix = tokens[:p1],
    middle = tokens[p1:p2], suffix = tokens[p2:]. Empty sections are
    legal (the sentinels still mark them, as in the paper's tokenizer).

    The three sentinel ids are the caller's vocabulary business (reserve
    them outside the token id space, e.g. negative or >= vocab_size).
    """
    t = F.col("tokens")
    n = F.size("tokens")
    key = F.col("doc_id").cast("string")
    sel = (hash_frac(key, "fim|apply") < float(rate)) & (n >= int(min_len))
    f1 = hash_frac(key, "fim|p1")
    f2 = hash_frac(key, "fim|p2")
    p1 = F.floor(f1 * (n + F.lit(1))).cast("int")
    p2 = (p1 + F.floor(f2 * (n - p1 + F.lit(1)))).cast("int")
    psm = F.concat(
        F.array(F.lit(int(pre_id))),
        F.slice(t, 1, p1),
        F.array(F.lit(int(suf_id))),
        F.slice(t, p2 + 1, n - p2),
        F.array(F.lit(int(mid_id))),
        F.slice(t, p1 + 1, p2 - p1),
    ).cast("array<int>")
    return df.withColumn("fim_applied", sel).withColumn(
        "tokens", F.when(sel, psm).otherwise(t)
    )


def span_corruption(
    df: DataFrame,
    sentinel_base: int = -100,
    block: int = 32,
    span_len: int = 8,
    rate: float = 0.25,
    seed: str = "t5",
) -> DataFrame:
    """Deterministic T5-style span corruption (Raffel et al. 2020): the
    denoising objective next to :func:`mask_tokens` (MLM) and
    :func:`fim_transform` (causal infilling).
    -> (input columns, ``inputs array<int>``, ``targets array<int>``,
    ``n_spans int``).

    Documents are cut into fixed ``block``-token blocks; block b is
    corrupted iff md5-frac(doc_id:b|seed) < ``rate``, and a corrupted
    block loses its FIRST ``span_len`` tokens (clipped at the document
    end). Spans therefore never overlap BY CONSTRUCTION — the sequential
    overlap-resolution of the sampled-span recipe is what defeats both
    SQL replay and parallel determinism, so the block grid is the
    Spark-first formulation (expected corrupted token fraction =
    rate * span_len / block). The k-th corrupted span (k = 0,1,...) is
    replaced by sentinel id ``sentinel_base - k`` in ``inputs``;
    ``targets`` is the concatenation of each sentinel + its original
    span, terminated by the final sentinel ``sentinel_base - n_spans``
    (the T5 layout). Reserve ids at/below ``sentinel_base`` outside the
    vocabulary. Empty documents emit empty inputs AND empty targets.

    Scale shape: scan-time projection, no shuffle, no Python. The
    per-block corruption flags and exclusive prefix counts land in their
    OWN projections (chained selects), so the HOF lambdas reference bare
    columns — the per-element outer-expression re-evaluation trap
    (functions/spread.py notes) never fires. Per-block prefix counts are
    O(nb^2) slice-filters with nb = ceil(n/block) — single digits for
    real documents.
    """
    if span_len > block:
        raise ValueError("span_corruption: span_len must be <= block")
    B, L, sb = int(block), int(span_len), int(sentinel_base)
    t = F.col("tokens")
    n = F.size("tokens")
    key = F.col("doc_id").cast("string")

    nb = F.floor((n + F.lit(B - 1)) / F.lit(B)).cast("int")
    blocks = F.when(n > 0, F.sequence(F.lit(0), nb - 1)).otherwise(
        F.array().cast("array<int>")
    )
    corr = F.transform(
        F.col("_blocks"),
        lambda b: hash_frac(
            F.concat(key, F.lit(":"), b.cast("string")), seed
        )
        < float(rate),
    )
    step1 = df.withColumn("_blocks", blocks).withColumn("_corr", corr)

    # exclusive prefix count of corrupted blocks (k index per block)
    kex = F.transform(
        F.col("_blocks"),
        lambda b: F.size(
            F.filter(F.slice(F.col("_corr"), 1, b), lambda x: x)
        ),
    )
    step2 = step1.withColumn("_kex", kex)

    def span_start(b):  # 1-based slice start of block b's span
        return b * F.lit(B) + 1

    def block_end(b):  # last token index (1-based) of block b
        return F.least((b + 1) * F.lit(B), n)

    per_block_in = F.transform(
        F.col("_blocks"),
        lambda b, i: F.when(
            F.get(F.col("_corr"), i),
            F.concat(
                F.array(F.lit(sb) - F.get(F.col("_kex"), i)),
                F.slice(
                    t,
                    span_start(b) + F.lit(L),
                    F.greatest(
                        block_end(b) - b * F.lit(B) - F.lit(L), F.lit(0)
                    ),
                ),
            ),
        ).otherwise(F.slice(t, span_start(b), block_end(b) - b * F.lit(B))),
    )
    per_block_tg = F.transform(
        F.col("_blocks"),
        lambda b, i: F.when(
            F.get(F.col("_corr"), i),
            F.concat(
                F.array(F.lit(sb) - F.get(F.col("_kex"), i)),
                F.slice(
                    t,
                    span_start(b),
                    F.least(F.lit(L), n - b * F.lit(B)),
                ),
            ),
        ).otherwise(F.array().cast("array<int>")),
    )
    n_spans = F.size(F.filter(F.col("_corr"), lambda x: x)).cast("int")
    targets = F.when(
        n > 0,
        F.concat(
            F.flatten(per_block_tg), F.array(F.lit(sb) - n_spans)
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        step2.withColumn("inputs", F.flatten(per_block_in).cast("array<int>"))
        .withColumn("targets", targets.cast("array<int>"))
        .withColumn("n_spans", n_spans)
        .drop("_blocks", "_corr", "_kex")
    )


def mask_tokens(df: DataFrame, mask_id: int, rate: float = 0.15) -> DataFrame:
    """Deterministic MLM-style corruption: position i of a document is
    replaced with ``mask_id`` iff md5-frac(doc_id:i|MASK_SEED) < ``rate`` —
    the masked-language-model counterpart of fim_transform's causal
    infilling. -> input columns with ``tokens`` rewritten + ``n_masked``.

    Per-POSITION hash (not per-document): masking density concentrates
    like independent coin flips, and reruns and engines agree exactly.

    Scale shape: scan-time projection, no shuffle. The mask-bool array is
    computed ONCE per row into its own projection and reused by both the
    rewrite and the count (CollapseProject keeps multiply-referenced
    non-cheap expressions un-inlined, so the per-position hash runs once;
    ~11M positions/s measured — string build + md5 per position).
    """
    def frac(i):
        # hash_frac(doc_id:i, seed) = md5(doc_id:i|seed)-fraction
        key = F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), i.cast("string")
        )
        return hash_frac(key, MASK_SEED)

    mb = F.transform(F.col("tokens"), lambda x, i: frac(i) < float(rate))
    step = df.withColumn("_mb", mb)
    masked = F.zip_with(
        F.col("tokens"),
        F.col("_mb"),
        lambda x, m: F.when(m, F.lit(int(mask_id))).otherwise(x),
    ).cast("array<int>")
    return (
        step.withColumn("tokens", masked)
        .withColumn(
            "n_masked",
            F.size(F.filter(F.col("_mb"), lambda b: b)).cast("int"),
        )
        .drop("_mb")
    )
