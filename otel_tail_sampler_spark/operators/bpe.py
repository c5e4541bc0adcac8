"""Byte-pair-encoding subword tokenizer: driver-side learn, distributed
apply (Sennrich, Haddow & Birch 2016 — the public subword-nmt scheme).

The split mirrors how production tokenizer training actually runs at
corpus scale: merges are LEARNED on a bounded deterministic sample (a few
hundred documents carry the pair statistics that matter — the same
sample-to-driver posture as ``similarity.ivf_centroids``), then APPLIED
corpus-wide as a broadcastable merge list. Nothing corpus-sized ever
reaches the driver, and the apply stage is embarrassingly parallel.

Semantics (identical across all three formulations, which is what makes
the operator oracle-checkable):

* a word is char-split and suffixed with the ``</w>`` end-of-word marker;
* merges apply SEQUENTIALLY in learned rank order, each pass merging all
  left-to-right non-overlapping occurrences of its pair;
* sequential-pass order equals subword-nmt's min-rank-loop encode because
  a merged-away pair can never reappear (merges only concatenate — they
  never make two existing tokens newly adjacent), and replace-all scan
  semantics equal greedy left-to-right merging (scanning resumes after
  each replacement, so ``a a a`` -> ``aa a`` in both).

That last property is the oracle bridge, but the REPRESENTATION matters:
on a single-space joined form, ``replace(' a b ', ' ab ')`` is NOT greedy
— adjacent occurrences share the separator space, so ``papa`` with merge
(p,a) would merge only once (found by adversarial review; the naive form
is green on small vocabularies and silently wrong on ``XYXY``/``XXX``
words). The oracle therefore frames every token with its OWN pair of
newline delimiters (tokens never contain whitespace, so newline is
provably unambiguous): token t renders as ``\\n t \\n`` with no
separator between tokens (adjacent frames give a 2-newline internal
gap), words join with two extra newlines (4-newline gap no pair pattern
can span), and one merge pass IS
``replace('\\n a \\n\\n b \\n', '\\n ab \\n')`` — matches of the framed
pattern can never overlap, so replace-all == greedy left-to-right
exactly, adjacent occurrences included. DuckDB replays the whole encode
as that nested replace chain with the merges embedded as literals — an
INDEPENDENT formulation of the apply (the Spark side encodes with a
per-word greedy loop, never string replace). The learner itself is
shared pure Python, so its correctness rests on planted hand-computed
cases (the symmetric-bug rule, tests/test_bpe.py).

Whitespace contract: words come from the same normalize -> trim -> split
pipeline as ``text.hash_tokenize``. The Python twin uses the EXPLICIT
Java ``\\s`` set ``[ \\t\\n\\x0b\\f\\r]`` — Python's ``\\s`` is
Unicode-aware (NBSP, \\u2028, ...) where Java's default and DuckDB/RE2
are ASCII, so a bare ``re`` \\s would silently split more than either
engine. Remaining cross-engine edge: \\x0B is whitespace to Java/Python
but not to DuckDB/RE2 (same note as hash_tokenize).

Scale shape: learn = one bounded orderBy-limit collect (smallest
md5(doc_id|'bpe') ranks — the engine-portable sampling family,
functions/hashing.py). Apply = mapInPandas projection, zero shuffle; the
merge table rides the closure (a few KiB) and a per-batch word->pieces
cache makes the encode vocabulary-rate rather than token-rate (Zipf: each
distinct word in a batch is encoded once).

Reference parity: the reference engine has no tokenizer tier; this is
part of the training-data extension the graft adds.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterator

from pyspark.sql import DataFrame, functions as F

from otel_tail_sampler_spark.functions.hashing import hash_key

END = "</w>"


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s, NOT Python's


def _py_words(text: str | None) -> list[str]:
    """Python twin of the hash_tokenize whitespace contract (explicit
    Java ``\\s`` character set — see the module docstring)."""
    if text is None:
        return []
    norm = _JAVA_WS.sub(" ", text).strip(" ")
    return norm.split(" ") if norm else []


def _merge_seq(seq: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """One merge pass: left-to-right non-overlapping, scan resumes after
    each merge (== string replace-all on the spaced representation)."""
    a, b = pair
    out: list[str] = []
    i, n = 0, len(seq)
    while i < n:
        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return tuple(out)


def learn_bpe_from_texts(
    texts: list[str | None], num_merges: int = 64
) -> list[tuple[str, str]]:
    """Pure-Python BPE learner (driver-side; deterministic).

    Tie-break: (pair count DESC, pair lexicographic ASC) — reruns and the
    oracle replica produce the identical merge list.
    """
    wordfreq: Counter = Counter()
    for t in texts:
        wordfreq.update(_py_words(t))
    seqs: dict[str, tuple[str, ...]] = {
        w: tuple(list(w) + [END]) for w in wordfreq
    }
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        pairs: Counter = Counter()
        for w, f in wordfreq.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += f
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        seqs = {w: _merge_seq(s, best) for w, s in seqs.items()}
    return merges


def encode_word(w: str, merges: list[tuple[str, str]]) -> tuple[str, ...]:
    """Greedy rank-order encode of one word (chars + END, then every merge
    pass in order)."""
    s = tuple(list(w) + [END])
    for m in merges:
        if len(s) < 2:
            break
        s = _merge_seq(s, m)
    return s


def _sample_texts(df: DataFrame, sample_docs: int) -> list[str | None]:
    """The ONE sampling recipe the oracle replica replays: texts of the
    ``sample_docs`` smallest md5(id|'bpe') hex ranks (tie-break id ASC).
    TakeOrdered keeps the collect bounded at any corpus size."""
    rows = (
        df.select(
            F.col("doc_id").cast("string").alias("_id"),
            F.col("text").alias("_t"),
        )
        .withColumn("_r", hash_key("_id", "bpe"))
        .orderBy("_r", "_id")
        .limit(int(sample_docs))
        .collect()
    )
    return [r["_t"] for r in rows]


def learn_bpe_merges(
    df: DataFrame, num_merges: int = 64, sample_docs: int = 512
) -> list[tuple[str, str]]:
    """Learn BPE merges on a bounded deterministic sample of ``df``
    (see :func:`_sample_texts`; the oracle replica selects the identical
    sample from the same parquet with pure Python md5)."""
    return learn_bpe_from_texts(_sample_texts(df, sample_docs), num_merges)


def sample_alphabet(texts: list[str | None]) -> list[str]:
    """Sorted distinct characters of the sample's words (the base symbol
    inventory a learned vocab must cover)."""
    return sorted({c for t in texts for w in _py_words(t) for c in w})


def bpe_vocab(
    merges: list[tuple[str, str]], alphabet: list[str]
) -> dict[str, int]:
    """piece -> dense id. Pieces = alphabet ∪ {END} ∪ merge products,
    sorted ascending, ids 1..V; id 0 is reserved for UNK (a character the
    sample never saw). Deterministic given (merges, alphabet), so the
    oracle replica embeds the identical table as literals."""
    pieces = sorted(set(alphabet) | {END} | {a + b for a, b in merges})
    return {p: i + 1 for i, p in enumerate(pieces)}


def learn_bpe(
    df: DataFrame, num_merges: int = 64, sample_docs: int = 512
) -> tuple[list[tuple[str, str]], dict[str, int]]:
    """One bounded sample collect -> (merges, vocab). The id-emitting
    sibling of :func:`learn_bpe_merges` for pipelines that need the
    ``tokens array<int>`` shape downstream."""
    texts = _sample_texts(df, sample_docs)
    merges = learn_bpe_from_texts(texts, num_merges)
    return merges, bpe_vocab(merges, sample_alphabet(texts))


def _apply_encoder(
    df: DataFrame, out_col: str, out_type: str, encode_cached
) -> DataFrame:
    """The ONE word-cached mapInPandas scaffold behind both apply paths
    (batch loop, Arrow empty-frame skip, NULL-text contract, schema
    plumbing): ``encode_cached(word) -> tuple`` supplies the per-word
    encoding; the per-batch cache makes it vocabulary-rate."""
    import pandas as pd

    id_type = df.schema["doc_id"].dataType.simpleString()
    n_col_name = "n_pieces" if out_col == "pieces" else "n_tok"

    def fn(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cache: dict[str, tuple] = {}
        for pdf in it:
            if not len(pdf):
                continue  # empty frames break Arrow array-type inference
            vals: list[list] = []
            ns: list[int] = []
            for t in pdf["text"]:
                out: list = []
                for w in _py_words(t):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_cached(w)
                        cache[w] = enc
                    out.extend(enc)
                vals.append(out)
                ns.append(len(out))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], out_col: vals, n_col_name: ns}
            )

    return df.select(F.col("doc_id"), F.col("text")).mapInPandas(
        fn,
        f"doc_id {id_type}, {out_col} array<{out_type}>, "
        f"{n_col_name} int",
    )


def apply_bpe(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode every document with a learned merge list:
    -> (id, pieces array<string>, n_pieces int).

    mapInPandas projection — no shuffle; merges ride the closure; a
    per-batch word cache encodes each distinct word once (vocabulary-rate,
    not token-rate). NULL/empty text -> empty pieces (the hash_tokenize
    contract).
    """
    mlist = [(str(a), str(b)) for a, b in merges]
    return _apply_encoder(
        df, "pieces", "string",
        lambda w: encode_word(w, mlist),
    )


def apply_bpe_ids(
    df: DataFrame, merges: list[tuple[str, str]], vocab: dict[str, int]
) -> DataFrame:
    """Encode documents straight to dense ids:
    -> (id, tokens array<int>, n_tok int) — the input_hint tokenized
    shape, so a learned-BPE corpus composes with every token-level
    operator (pack / shard / remap / dup-span) exactly like
    ``text.hash_tokenize`` output. Unknown pieces (characters outside
    the sample alphabet) map to UNK id 0. Same shuffle-free word-cached
    scaffold as :func:`apply_bpe` (the cache holds id tuples, so the
    vocab lookup is also vocabulary-rate)."""
    mlist = [(str(a), str(b)) for a, b in merges]
    vmap = dict(vocab)
    return _apply_encoder(
        df, "tokens", "int",
        lambda w: tuple(vmap.get(p, 0) for p in encode_word(w, mlist)),
    )
