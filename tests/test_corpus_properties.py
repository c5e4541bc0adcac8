"""Property-based tests for the corpus-kernel operators.

Each property drives the Spark operator on hypothesis-generated corpora
and compares against an OBVIOUS scalar Python reimplementation of the
documented contract. Spark jobs per example are slow, so example counts
are deliberately small — these hunt structural edge cases (empty docs,
all-duplicate corpora, window/stride boundary alignment, unk-id
collisions), not statistical coverage.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from otel_tail_sampler_spark.operators.corpus import remap_rare_tokens
from otel_tail_sampler_spark.operators.dedup import trim_dup_spans

# small token universe so frequencies and duplicate windows actually occur
TOKENS = st.lists(st.integers(min_value=-2, max_value=6), max_size=12)
CORPUS = st.lists(TOKENS, min_size=1, max_size=8)


def _ref_remap(docs: list[list[int]], min_freq: int, unk: int):
    freq = Counter(t for d in docs for t in d)
    out = []
    for d in docs:
        rare = [t for t in d if freq[t] < min_freq]
        out.append(([unk if freq[t] < min_freq else t for t in d], len(rare)))
    return out


@pytest.mark.slow
@given(CORPUS, st.integers(min_value=1, max_value=4))
@settings(max_examples=8, deadline=None)
def test_remap_matches_reference(spark, corpus, min_freq):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(corpus)], "doc_id long, tokens array<int>"
    )
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_unk"])
        for r in remap_rare_tokens(df, min_freq=min_freq).collect()
    }
    want = _ref_remap(corpus, min_freq, -1)
    assert got == {i: w for i, w in enumerate(want)}


def _ref_trim(docs: list[list[int]], window: int, stride: int, min_count: int):
    occ = []  # (hash, doc, start) in scan order
    for i, d in enumerate(docs):
        if len(d) >= window:
            for s in range(0, len(d) - window + 1, stride):
                h = hashlib.md5(
                    ",".join(str(t) for t in d[s : s + window]).encode()
                ).hexdigest()
                occ.append((h, i, s))
    counts = Counter(h for h, _, _ in occ)
    first: dict[str, tuple[int, int]] = {}
    for h, i, s in sorted(occ, key=lambda o: (o[0], o[1], o[2])):
        first.setdefault(h, (i, s))
    out = []
    for i, d in enumerate(docs):
        masked = set()
        for h, j, s in occ:
            if j == i and counts[h] >= min_count and first[h] != (i, s):
                masked.update(range(s, s + window))
        kept = [t for p, t in enumerate(d) if p not in masked]
        out.append((kept, len(d) - len(kept)))
    return out


@pytest.mark.slow
@given(CORPUS, st.integers(min_value=2, max_value=4), st.integers(min_value=1, max_value=3))
@settings(max_examples=8, deadline=None)
def test_trim_dup_spans_matches_reference(spark, corpus, window, stride):
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(corpus)], "doc_id long, tokens array<int>"
    )
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_removed"])
        for r in trim_dup_spans(
            df, window=window, stride=stride, min_count=2
        ).collect()
    }
    want = _ref_trim(corpus, window, stride, 2)
    assert got == {i: w for i, w in enumerate(want)}


def _ref_encode(docs: list[list[int]], vocab_size: int, unk: int):
    freq = Counter(t for d in docs for t in d)
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    rank = {t: i for i, (t, _) in enumerate(ranked)}
    out = []
    for d in docs:
        enc = [rank.get(t, unk) for t in d]
        out.append((enc, sum(1 for t in d if t not in rank)))
    return out


@pytest.mark.slow
@given(CORPUS, st.integers(min_value=1, max_value=5))
@settings(max_examples=8, deadline=None)
def test_build_vocab_encode_matches_reference(spark, corpus, vocab_size):
    from otel_tail_sampler_spark.operators.corpus import (
        build_vocab,
        encode_with_vocab,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(corpus)], "doc_id long, tokens array<int>"
    )
    vocab = build_vocab(df, vocab_size=vocab_size)
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_unk"])
        for r in encode_with_vocab(df, vocab).collect()
    }
    want = _ref_encode(corpus, vocab_size, -1)
    assert got == {i: w for i, w in enumerate(want)}


def _ref_chunks(toks: list[int], max_len: int, stride: int):
    if not toks:
        return []
    out, k = [], 0
    last = -((-max(len(toks) - max_len, 0)) // stride)  # ceil div
    for k in range(last + 1):
        out.append(toks[k * stride : k * stride + max_len])
    return out


@pytest.mark.slow
@given(
    CORPUS,
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_chunk_documents_matches_reference(spark, corpus, max_len, stride):
    """chunk_documents == the obvious scalar slicer for every
    (max_len, stride), including stride > max_len (gaps are legal) and
    short/empty docs."""
    from otel_tail_sampler_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(str(i), d) for i, d in enumerate(corpus)],
        "doc_id string, tokens array<int>",
    )
    got: dict = {}
    for r in chunk_documents(df, max_len=max_len, stride=stride).collect():
        got.setdefault(r["doc_id"], {})[r["chunk_id"]] = list(r["tokens"])
    for i, d in enumerate(corpus):
        want = _ref_chunks(d, max_len, stride)
        mine = got.get(str(i), {})
        assert len(mine) == len(want), (i, d)
        for k, w in enumerate(want):
            assert mine[k] == w, (i, k)


@pytest.mark.slow
@given(CORPUS, st.floats(min_value=0.0, max_value=1.0))
@settings(max_examples=8, deadline=None)
def test_fim_reconstruction_property(spark, corpus, rate):
    """For ANY corpus and rate: an applied row is exactly
    [PRE] p [SUF] s [MID] m with p+m+s == original; an unapplied row is
    untouched; empty/short docs are never applied."""
    from otel_tail_sampler_spark.operators.augment import fim_transform

    df = spark.createDataFrame(
        [(str(i), d) for i, d in enumerate(corpus)],
        "doc_id string, tokens array<int>",
    )
    out = fim_transform(
        df, pre_id=-101, mid_id=-102, suf_id=-103, rate=rate, min_len=2
    ).collect()
    orig = {str(i): d for i, d in enumerate(corpus)}
    for r in out:
        toks = list(r["tokens"])
        o = orig[r["doc_id"]]
        if not r["fim_applied"]:
            assert toks == o
            continue
        assert len(o) >= 2 and toks[0] == -101
        i_suf, i_mid = toks.index(-103), toks.index(-102)
        p, s, m = toks[1:i_suf], toks[i_suf + 1 : i_mid], toks[i_mid + 1 :]
        assert p + m + s == o


# ---------------------------------------------------------------------------
# _subrange_rank (the shared exact-rank/running-sum machinery)
# ---------------------------------------------------------------------------

RANK_ROWS = st.lists(
    st.tuples(
        st.text(
            alphabet="abcdefgh0123456789", min_size=1, max_size=8
        ),
        st.integers(min_value=0, max_value=5),   # group
        st.integers(min_value=0, max_value=50),  # value
    ),
    min_size=0,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(RANK_ROWS, st.booleans(), st.booleans())
@settings(max_examples=10, deadline=None)
def test_subrange_rank_matches_scalar_order(spark, rows, reset, use_value):
    """Property: _subrange_rank's reconstructed _pos equals the scalar
    rank / inclusive running sum over the (group[, global], md5, id)
    total order, for every combination of reset and value mode; and
    _exact_positions over one chunk column, as pack_sequences calls it,
    gives the exclusive running sum over the (group, id) order."""
    import hashlib

    from otel_tail_sampler_spark.operators.packing import (
        _exact_positions,
        _subrange_rank,
    )

    df = spark.createDataFrame(
        rows, "doc_id string, grp int, val int"
    )
    ranked, got_total, _gt = _subrange_rank(
        df,
        "grp",
        "doc_id",
        "proptest",
        1,
        reset_per_group=reset,
        value_col="val" if use_value else None,
    )
    got = {r["doc_id"]: r["_pos"] for r in ranked.collect()}

    def h(did):
        return hashlib.md5(f"{did}|proptest".encode()).hexdigest()

    order = sorted(rows, key=lambda t: (t[1], h(t[0]), t[0]))
    want, run = {}, {}
    glob = 0
    for did, g, v in order:
        scope = g if reset else "all"
        q = v if use_value else 1
        base = run.get(scope, 0)
        if use_value:
            want[did] = base + q  # inclusive running sum
        else:
            want[did] = base  # 0-based rank
        run[scope] = base + q
        glob += q
    assert got == want
    assert got_total == glob  # the returned grand total

    packed, _, _ = _exact_positions(df, ["grp"], ["doc_id"], "val", None)
    got = {
        r["doc_id"]: r["_off"]
        for r in packed.selectExpr("doc_id", "_pos - val AS _off").collect()
    }
    want, run = {}, 0
    for did, _g, v in sorted(rows, key=lambda t: (t[1], t[0])):
        want[did] = run  # exclusive running sum
        run += v
    assert got == want


# ---------------------------------------------------------------------------
# DSIR scoring kernel vs the scalar reference over arbitrary corpora
# ---------------------------------------------------------------------------

DSIR_CORPUS = st.lists(
    st.tuples(
        st.text(alphabet="xyz0123456789", min_size=1, max_size=6),
        st.lists(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            min_size=0,
            max_size=12,
        ),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(DSIR_CORPUS, st.integers(min_value=2, max_value=64))
@settings(max_examples=8, deadline=None)
def test_dsir_matches_reference_on_arbitrary_corpora(spark, rows, n_buckets):
    """Property: the DSIR model builder and scoring kernel (numpy flat
    stream) match a scalar reference on arbitrary corpora including
    full int32-range tokens."""
    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model,
        dsir_score,
    )

    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    target_ids = {d for d, _ in rows if d < "y"}
    target = df.filter(
        df.doc_id.isin(*target_ids) if target_ids else "false"
    )
    model = build_dsir_model(target, df, n_buckets=n_buckets)

    a = {
        r["doc_id"]: (
            r["n_feat"],
            r["target_mass"],
            r["raw_mass"],
            r["ratio_fp"],
        )
        for r in dsir_score(df, model, n_buckets=n_buckets).collect()
    }

    # scalar reference
    tf, rf = {}, {}
    for did, toks in rows:
        for x, y in zip(toks, toks[1:]):
            f = (x * 4294967296 + (y & 0xFFFFFFFF)) % n_buckets
            rf[f] = rf.get(f, 0) + 1
            if did in target_ids:
                tf[f] = tf.get(f, 0) + 1
    assert sorted(map(tuple, model.collect())) == sorted(
        (f, tf.get(f, 0), rf[f]) for f in rf
    )
    t_tot, r_tot = sum(tf.values()), sum(rf.values())
    s = 1 << 20
    assert set(a) == {did for did, _ in rows}
    for did, toks in rows:
        feats = [
            (x * 4294967296 + (y & 0xFFFFFFFF)) % n_buckets
            for x, y in zip(toks, toks[1:])
        ]
        tm = sum(tf.get(f, 0) + 1 for f in feats)
        rm = sum(rf.get(f, 0) + 1 for f in feats)
        ratio = (
            (s * tm * (r_tot + n_buckets)) // (rm * (t_tot + n_buckets))
            if feats
            else s
        )
        assert a[did] == (len(feats), tm, rm, ratio), did
