"""Sequence packing: conservation, exact stream order, fixed example
lengths, and independence from the input's physical partitioning."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.packing import pack_sequences

L = 64


@pytest.fixture(scope="module")
def tokenized(spark, small_dataset):
    return spark.read.parquet(small_dataset["tokenized"])


def _stream(df):
    """Reference: the doc_id-ordered concatenated token stream, locally."""
    pdf = df.select("doc_id", "tokens").toPandas().sort_values("doc_id")
    return [int(t) for toks in pdf["tokens"] for t in toks]


def test_pack_conserves_and_cuts_exactly(spark, tokenized):
    packed = pack_sequences(tokenized, max_len=L).toPandas().sort_values("example_id")
    stream = _stream(tokenized)
    assert packed["n_tok"].sum() == len(stream)
    # every example except the last is exactly L tokens; ids are dense 0..k
    assert list(packed["example_id"]) == list(range(len(packed)))
    assert (packed["n_tok"].iloc[:-1] == L).all()
    # byte-for-byte stream order
    got = [int(t) for toks in packed["tokens"] for t in toks]
    assert got == stream


def test_pack_is_partitioning_independent(spark, tokenized):
    a = pack_sequences(tokenized, max_len=L).toPandas().sort_values("example_id")
    b = (
        pack_sequences(tokenized.repartition(3), max_len=L)
        .toPandas()
        .sort_values("example_id")
    )
    assert list(a["example_id"]) == list(b["example_id"])
    assert all(
        list(x) == list(y) for x, y in zip(a["tokens"], b["tokens"])
    )


def test_pack_empty_and_tiny(spark):
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>")
    assert pack_sequences(empty, max_len=L).count() == 0
    tiny = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", []), ("c", [4])],
        "doc_id string, tokens array<int>",
    )
    out = pack_sequences(tiny, max_len=L).collect()
    assert len(out) == 1
    assert list(out[0]["tokens"]) == [1, 2, 3, 4]


def test_assign_shards_deterministic_uniform_and_complete(spark):
    from otel_tail_sampler_spark.operators.packing import assign_shards

    ex = spark.range(1000).withColumnRenamed("id", "example_id")
    out = assign_shards(ex, n_shards=8).toPandas()
    # complete, no dup positions: each shard's positions are exactly 0..k-1
    assert len(out) == 1000
    for _, g in out.groupby("shard"):
        assert sorted(g["shard_pos"]) == list(range(len(g)))
    # pure function of the id: stable under repartitioning
    out2 = (
        assign_shards(ex.repartition(7), n_shards=8)
        .toPandas()
        .sort_values("example_id")
        .reset_index(drop=True)
    )
    assert out.sort_values("example_id").reset_index(drop=True).equals(out2)
    # md5 spreads ids: no shard is pathologically over/under-filled
    counts = out["shard"].value_counts()
    assert counts.min() > 60 and counts.max() < 190
    # within-shard order decorrelated from id order (a shuffle, not identity)
    s0 = out[out["shard"] == 0].sort_values("shard_pos")["example_id"].tolist()
    assert s0 != sorted(s0)


def test_write_shards_one_ordered_file_per_shard(spark, tmp_path):
    from otel_tail_sampler_spark.operators.packing import (
        assign_shards,
        write_shards,
    )

    ex = spark.range(500).withColumnRenamed("id", "example_id")
    out = str(tmp_path / "shards")
    write_shards(ex, out, n_shards=4)
    import glob

    for k in range(4):
        files = glob.glob(f"{out}/shard={k}/*.parquet")
        # one in-order file per shard directory (shard k lives in one task)
        assert len(files) == 1
        import pandas as pd

        pdf = pd.read_parquet(files[0])
        assert list(pdf["shard_pos"]) == sorted(pdf["shard_pos"])
    # complete and identical to the pure assignment
    back = spark.read.parquet(out)
    assert back.count() == 500
    a = back.select("example_id", "shard_pos").toPandas().sort_values("example_id")
    b = (
        assign_shards(ex, n_shards=4)
        .select("example_id", "shard_pos")
        .toPandas()
        .sort_values("example_id")
    )
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_corpus_prep_plan_end_to_end(spark, tmp_path):
    """Full prep DAG over the real documents table: gates bite, shards
    conserve the trimmed token stream, reader sees in-order shards."""
    from otel_tail_sampler_spark.plans.corpus_prep import run_corpus_prep

    out = str(tmp_path / "prep")
    m = run_corpus_prep(
        spark,
        "/root/testdata/sf0.001/documents.parquet",
        out,
        vocab_size=1024,
        max_len=64,
        n_shards=4,
        min_words=5,
    )
    assert 0 < m["docs_kept"] <= m["docs_in"] == 500
    assert m["examples"] > 0 and m["tokens_out"] > 0
    back = spark.read.parquet(f"{out}/shards")
    # conservation: shard files hold exactly the packed token stream
    assert back.agg(F.sum("n_tok")).collect()[0][0] == m["tokens_out"]
    assert back.count() == m["examples"]
    # every example except per-stream-tail is exactly max_len
    assert back.filter("n_tok < 64").count() <= 1
    # reader view: one shard's shard_pos is dense 0..k-1
    s0 = back.filter("shard = 0").orderBy("shard_pos").toPandas()
    assert list(s0["shard_pos"]) == list(range(len(s0)))
    # metrics row persisted
    mr = spark.read.parquet(f"{out}/metrics_run").collect()[0].asDict()
    assert mr["examples"] == m["examples"]


def test_remap_rare_tokens(spark):
    from otel_tail_sampler_spark.operators.corpus import remap_rare_tokens

    df = spark.createDataFrame(
        [
            (1, [10, 20, 30, 10]),
            (2, [10, 40]),   # 40 occurs once -> UNK
            (3, [20, 20]),
            (4, []),         # empty passthrough
        ],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in remap_rare_tokens(df, min_freq=2).collect()}
    # freqs: 10->3, 20->3, 30->1, 40->1
    assert out[1]["tokens"] == [10, 20, -1, 10] and out[1]["n_unk"] == 1
    assert out[2]["tokens"] == [10, -1] and out[2]["n_unk"] == 1
    assert out[3]["tokens"] == [20, 20] and out[3]["n_unk"] == 0
    assert out[4]["tokens"] == [] and out[4]["n_unk"] == 0
    # custom threshold: min_freq=4 flags everything
    out4 = {r["doc_id"]: r for r in remap_rare_tokens(df, min_freq=4).collect()}
    assert out4[1]["tokens"] == [-1, -1, -1, -1]


def test_prepare_corpus_chain(spark):
    from otel_tail_sampler_spark.operators.corpus import prepare_corpus

    long_clean = " ".join(f"w{i}" for i in range(30))
    repetitive = " ".join(["spam"] * 30)
    docs = spark.createDataFrame(
        [
            (1, long_clean, "a"),      # survives
            (2, long_clean, "a"),      # exact dup of 1 -> dropped (min id wins)
            (3, "too short", "a"),     # length gate
            (4, repetitive, "a"),      # dup_word_frac = 29/30 > 0.6
            (5, long_clean + " tail", "zzz"),  # unlisted source -> rate 0.0
        ],
        "doc_id long, text string, source string",
    )
    out = prepare_corpus(docs, {"a": 1.0}, min_words=20).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["n_words"] == 30 and out[0]["dup_word_frac"] == 0.0


def test_split_corpus_deterministic_and_nested(spark, monkeypatch):
    from otel_tail_sampler_spark.operators import corpus
    from otel_tail_sampler_spark.operators.corpus import split_corpus

    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = split_corpus(docs).toPandas()
    counts = a["split"].value_counts()
    # roughly 80/10/10 (hash-uniform)
    assert 1500 < counts["train"] < 1700
    assert 120 < counts["val"] < 280 and 120 < counts["test"] < 280
    # growing train only promotes: no doc ever LEAVES train
    monkeypatch.setattr(corpus, "SPLIT_TRAIN", 0.9)
    monkeypatch.setattr(corpus, "SPLIT_VAL", 0.05)
    b = split_corpus(docs).toPandas()
    tr_a = set(a[a["split"] == "train"]["doc_id"])
    tr_b = set(b[b["split"] == "train"]["doc_id"])
    assert tr_a <= tr_b
    # test set of the wider train is a subset of the old test set
    te_a = set(a[a["split"] == "test"]["doc_id"])
    te_b = set(b[b["split"] == "test"]["doc_id"])
    assert te_b <= te_a


def test_add_special_tokens_wraps_and_packs(spark):
    from otel_tail_sampler_spark.operators.packing import (
        add_special_tokens,
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(1, [5, 6]), (2, []), (3, [7])],
        "doc_id long, tokens array<int>",
    )
    w = {r["doc_id"]: r["tokens"] for r in add_special_tokens(
        df, bos_id=-101, eos_id=-100).collect()}
    assert w[1] == [-101, 5, 6, -100]
    assert w[2] == [-101, -100]  # empty doc still marks a boundary
    assert w[3] == [-101, 7, -100]
    # composition: packed stream preserves wrapped order, boundaries visible
    packed = pack_sequences(
        add_special_tokens(df, bos_id=-101, eos_id=-100), max_len=4
    ).toPandas().sort_values("example_id")
    flat = [t for toks in packed["tokens"] for t in toks]
    assert flat == [-101, 5, 6, -100, -101, -100, -101, 7, -100]
    assert list(packed["n_tok"]) == [4, 4, 1]


def test_pack_documents_greedy_scalar_reference_and_invariants(spark):
    """Greedy no-split packing == the obvious scalar first-fit per
    bucket; every example <= max_len; every doc lands WHOLE (or
    truncated at max_len) in exactly one example; output identical
    across input partition counts."""
    import hashlib

    import numpy as np

    from otel_tail_sampler_spark.operators.packing import (
        pack_documents_greedy,
    )

    rng = np.random.default_rng(5)
    rows = [
        (f"d{i:03d}", [int(x) for x in rng.integers(0, 99, rng.integers(0, 23))])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    max_len, n_buckets = 16, 4

    def bucket_of(doc_id: str) -> int:
        h = int(hashlib.md5(f"{doc_id}|packdoc".encode()).hexdigest()[:15], 16)
        return h % n_buckets

    # scalar reference
    want: dict[int, tuple] = {}
    by_bucket: dict[int, list] = {}
    for doc_id, toks in rows:
        by_bucket.setdefault(bucket_of(doc_id), []).append((doc_id, toks))
    for pid, docs in by_bucket.items():
        docs.sort()
        cur, cur_docs, k = [], 0, 0
        def flush(pid=pid):
            nonlocal cur, cur_docs, k
            if cur_docs:
                want[pid * (1 << 40) + k] = (list(cur), cur_docs)
                k += 1
            cur, cur_docs = [], 0
        for _, toks in docs:
            a = toks[:max_len]
            if cur_docs and len(cur) + len(a) > max_len:
                flush()
            cur = cur + a
            cur_docs += 1
        flush()

    for parts in (1, 7):
        got = {
            r["example_id"]: (list(r["tokens"]), r["n_docs"])
            for r in pack_documents_greedy(
                df.repartition(parts), max_len=max_len, n_buckets=n_buckets
            ).collect()
        }
        assert got == want, parts
    assert all(len(t) <= max_len for t, _ in want.values())
    # doc preservation: multiset of tokens equals the truncated corpus
    from collections import Counter
    corpus_tokens = Counter(
        t for _, toks in rows for t in toks[:max_len]
    )
    packed_tokens = Counter(t for toks, _ in want.values() for t in toks)
    assert packed_tokens == corpus_tokens


# ---------------------------------------------------------------------------
# form_batches / batch_stats
# ---------------------------------------------------------------------------


def _batch_ref(rows, batch_size, edges, seed="batch"):
    """Independent scalar reference: global md5 rank within bucket."""
    import hashlib

    def bucket(n):
        for i, e in enumerate(edges):
            if n <= e:
                return i
        return len(edges)

    def h(did):
        return hashlib.md5(f"{did}|{seed}".encode()).hexdigest()

    out = {}
    byb = {}
    for did, n in rows:
        byb.setdefault(bucket(n), []).append(did)
    for b, ids in byb.items():
        ids.sort(key=lambda d: (h(d), d))
        for pos, did in enumerate(ids):
            out[did] = (b, pos // batch_size, pos % batch_size)
    return out


def test_form_batches_matches_scalar_reference(spark):
    from otel_tail_sampler_spark.operators.packing import form_batches

    rows = [(f"d{i:03d}", (i * 37) % 300 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    edges = (64, 128, 256)
    got = {
        r["doc_id"]: (r["bucket"], r["batch_seq"], r["pos_in_batch"])
        for r in form_batches(df, batch_size=16, bucket_edges=edges).collect()
    }
    assert got == _batch_ref(rows, 16, edges)


def test_form_batches_partition_count_independent(spark):
    from otel_tail_sampler_spark.operators.packing import form_batches

    rows = [(f"x{i}", i % 90 + 1) for i in range(200)]
    outs = []
    for nparts in (1, 7):
        df = spark.createDataFrame(
            rows, "doc_id string, n_tok int"
        ).repartition(nparts)
        outs.append(
            sorted(
                (r["doc_id"], r["bucket"], r["batch_seq"], r["pos_in_batch"])
                for r in form_batches(df, batch_size=8).collect()
            )
        )
    assert outs[0] == outs[1]


def test_batch_stats_pad_accounting(spark):
    from otel_tail_sampler_spark.operators.packing import (
        batch_stats,
        form_batches,
    )

    rows = [(f"d{i}", i % 50 + 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    batched = form_batches(df, batch_size=8, bucket_edges=(16, 32, 48))
    stats = batch_stats(batched).collect()
    # every doc accounted for exactly once; waste formula exact
    assert sum(r["n_docs"] for r in stats) == 100
    for r in stats:
        assert r["pad_tokens"] == r["n_docs"] * r["max_len"] - r["sum_len"]
        assert 0 < r["n_docs"] <= 8
    # only the rank tail of each bucket may be short
    short = [
        (r["bucket"], r["batch_seq"]) for r in stats if r["n_docs"] < 8
    ]
    last = {}
    for r in stats:
        last[r["bucket"]] = max(last.get(r["bucket"], -1), r["batch_seq"])
    assert all(bs == last[b] for b, bs in short)


def test_form_batches_edges_and_empty(spark):
    import pytest as _pytest

    from otel_tail_sampler_spark.operators.packing import form_batches

    empty = spark.createDataFrame([], "doc_id string, n_tok int")
    assert form_batches(empty, batch_size=4).count() == 0
    with _pytest.raises(ValueError):
        form_batches(empty, bucket_edges=(64, 64))
    # overflow bucket: lengths past the last edge land in bucket len(edges)
    df = spark.createDataFrame(
        [("a", 1000), ("b", 5)], "doc_id string, n_tok int"
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in form_batches(df, bucket_edges=(8, 16)).collect()
    }
    assert got == {"a": 2, "b": 0}


# ---------------------------------------------------------------------------
# curriculum_order
# ---------------------------------------------------------------------------


def _curr_ref(rows, n_phases, seed="curriculum"):
    import hashlib

    def h(did):
        return hashlib.md5(f"{did}|{seed}".encode()).hexdigest()

    order = sorted(rows, key=lambda r: (r[1], h(r[0]), r[0]))
    total = len(rows)
    return {
        did: (rank, rank * n_phases // total)
        for rank, (did, _) in enumerate(order)
    }


def test_curriculum_order_matches_scalar_reference(spark):
    from otel_tail_sampler_spark.operators.packing import curriculum_order

    rows = [(f"d{i:03d}", (i * 13) % 40 + 5) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    got = {
        r["doc_id"]: (r["rank"], r["phase"])
        for r in curriculum_order(df, "n_tok", n_phases=4).collect()
    }
    assert got == _curr_ref(rows, 4)


def test_curriculum_order_degenerate_metric_spreads(spark):
    from otel_tail_sampler_spark.operators.packing import curriculum_order

    # every doc has the same metric: rank must still be a permutation
    # (md5 tie-break) and phases equal-population
    rows = [(f"z{i}", 7) for i in range(64)]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    out = curriculum_order(df, "n_tok", n_phases=4).collect()
    assert sorted(r["rank"] for r in out) == list(range(64))
    from collections import Counter

    assert Counter(r["phase"] for r in out) == {0: 16, 1: 16, 2: 16, 3: 16}
    assert {r["doc_id"]: (r["rank"], r["phase"]) for r in out} == _curr_ref(
        rows, 4
    )


def test_curriculum_order_partition_count_independent(spark):
    from otel_tail_sampler_spark.operators.packing import curriculum_order

    rows = [(f"q{i}", i % 9) for i in range(120)]
    outs = []
    for nparts in (1, 5):
        df = spark.createDataFrame(
            rows, "doc_id string, n_tok int"
        ).repartition(nparts)
        outs.append(
            sorted(
                (r["doc_id"], r["rank"], r["phase"])
                for r in curriculum_order(df, "n_tok", n_phases=3).collect()
            )
        )
    assert outs[0] == outs[1]


# ---------------------------------------------------------------------------
# shard_manifest
# ---------------------------------------------------------------------------


def test_shard_manifest_roundtrip_from_written_files(spark, tmp_path):
    """The integrity contract: a manifest recomputed from the WRITTEN
    shard files (digests concatenated in shard_pos order) must match the
    written manifest byte-for-byte; any token flip breaks it."""
    import hashlib

    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.packing import (
        shard_manifest,
        write_shards,
    )

    rows = [(i, [int(x) for x in range(i % 7 + 1)]) for i in range(60)]
    df = spark.createDataFrame(rows, "example_id long, tokens array<int>")
    out = str(tmp_path / "shards")
    write_shards(df, out, n_shards=4, manifest=True)

    want = {
        r["shard"]: (r["n_examples"], r["n_tokens"], r["content_md5"])
        for r in spark.read.parquet(out + "_manifest").collect()
    }
    assert set(want) == set(range(4))

    # recompute from written files, pandas-side (independent path)
    got = {}
    pdf = (
        spark.read.parquet(out)
        .select("shard", "shard_pos", "tokens")
        .toPandas()
    )
    for shard, grp in pdf.groupby("shard"):
        grp = grp.sort_values("shard_pos")
        digests = [
            hashlib.md5(
                ",".join(str(int(x)) for x in t).encode()
            ).hexdigest()
            for t in grp["tokens"]
        ]
        got[int(shard)] = (
            len(grp),
            int(sum(len(t) for t in grp["tokens"])),
            hashlib.md5("".join(digests).encode()).hexdigest(),
        )
    assert got == want

    # sanity: totals conserve the corpus
    assert sum(w[0] for w in want.values()) == 60
    assert sum(w[1] for w in want.values()) == sum(
        len(t) for _, t in rows
    )


# ---------------------------------------------------------------------------
# enforce_token_budget
# ---------------------------------------------------------------------------


def _budget_ref(rows, budget, seed="budget"):
    import hashlib

    def h(did):
        return hashlib.md5(f"{did}|{seed}".encode()).hexdigest()

    out = {}
    bysrc = {}
    for did, src, n in rows:
        bysrc.setdefault(src, []).append((did, n))
    for src, docs in bysrc.items():
        docs.sort(key=lambda d: (h(d[0]), d[0]))
        cum = 0
        b = budget[src] if isinstance(budget, dict) else budget
        for did, n in docs:
            cum += n
            if cum <= b:
                out[did] = cum
    return out


def test_token_budget_matches_scalar_reference_and_nests(spark):
    from otel_tail_sampler_spark.operators.packing import (
        enforce_token_budget,
    )

    rows = [
        (f"d{i:03d}", f"s{i % 3}", (i * 11) % 60 + 5) for i in range(150)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    prev = set()
    for budget in (0, 200, 700, 10**9):
        got = {
            r["doc_id"]: r["cum_tokens"]
            for r in enforce_token_budget(df, budget).collect()
        }
        assert got == _budget_ref(rows, budget), budget
        assert prev <= set(got)  # monotone in the budget
        prev = set(got)
    assert len(prev) == 150  # huge budget keeps everything


def test_token_budget_per_group_dict_and_missing_group(spark):
    from otel_tail_sampler_spark.operators.packing import (
        enforce_token_budget,
    )

    rows = [("a", "x", 10), ("b", "x", 10), ("c", "y", 10)]
    df = spark.createDataFrame(rows, "doc_id string, source string, n_tok int")
    budget = {"x": 15}  # y absent -> keeps nothing
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in enforce_token_budget(df, budget).collect()
    }
    assert got == _budget_ref(rows, {"x": 15, "y": 0})
    assert len(got) == 1 and list(got.values()) == [10]


def test_token_budget_partition_count_independent(spark):
    from otel_tail_sampler_spark.operators.packing import (
        enforce_token_budget,
    )

    rows = [(f"p{i}", f"s{i % 2}", i % 20 + 1) for i in range(80)]
    outs = []
    for nparts in (1, 6):
        df = spark.createDataFrame(
            rows, "doc_id string, source string, n_tok int"
        ).repartition(nparts)
        outs.append(
            sorted(
                (r["doc_id"], r["cum_tokens"])
                for r in enforce_token_budget(df, 150).collect()
            )
        )
    assert outs[0] == outs[1]


def test_pack_sequences_doc_spans_tile_examples(spark):
    """emit_spans: per-example (offset, length) pieces must tile each
    example contiguously, match the scalar packing layout, and agree
    with the default path's tokens."""
    from otel_tail_sampler_spark.operators.packing import pack_sequences

    rows = [(f"d{i:02d}", list(range(i % 5 + 1))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["example_id"]: (list(r["tokens"]), [(s["offset"], s["length"]) for s in r["doc_spans"]])
        for r in pack_sequences(df, max_len=7, emit_spans=True).collect()
    }
    plain = {
        r["example_id"]: list(r["tokens"])
        for r in pack_sequences(df, max_len=7).collect()
    }
    assert {k: v[0] for k, v in out.items()} == plain
    # scalar reference with DOCUMENT boundaries: spans must be exactly
    # the intersections of each document's stream interval with the
    # example window, in order — tiling alone would green a degenerate
    # one-span-per-example layout (symmetric-oracle blind spot)
    stream, bounds, pos = [], [], 0
    for _, toks in sorted(rows):
        if toks:
            bounds.append((pos, pos + len(toks)))
            pos += len(toks)
            stream.extend(toks)
    for ex, (toks, spans) in out.items():
        assert toks == stream[ex * 7 : (ex + 1) * 7]
        lo, hi = ex * 7, min((ex + 1) * 7, len(stream))
        want = [
            (max(s, lo) - lo, min(e, hi) - max(s, lo))
            for s, e in bounds
            if s < hi and e > lo
        ]
        assert spans == want, ex


def test_assign_shards_stratified_exact_proportions(spark):
    """Every (group, shard) cell holds floor/ceil(|group|/n_shards)
    examples, and the assignment matches the scalar rank % n reference."""
    import hashlib
    from collections import Counter

    from otel_tail_sampler_spark.operators.packing import (
        assign_shards_stratified,
    )

    rows = [
        (f"e{i:03d}", "big" if i < 70 else "small") for i in range(83)
    ]
    df = spark.createDataFrame(rows, "example_id string, source string")
    out = assign_shards_stratified(df, n_shards=4).collect()
    cells = Counter((r["source"], r["shard"]) for r in out)
    for grp, n in (("big", 70), ("small", 13)):
        sizes = [cells[(grp, s)] for s in range(4)]
        assert sum(sizes) == n
        assert max(sizes) - min(sizes) <= 1  # exact round-robin split

    def h(did):
        return hashlib.md5(f"{did}|shards".encode()).hexdigest()

    want = {}
    for grp in ("big", "small"):
        ids = sorted(
            (d for d, g in rows if g == grp), key=lambda d: (h(d), d)
        )
        for rank, did in enumerate(ids):
            want[did] = (rank % 4, rank // 4)
    got = {r["example_id"]: (r["shard"], r["stratum_pos"]) for r in out}
    assert got == want


# ---------------------------------------------------------------------------
# interleave_key (stride scheduling)
# ---------------------------------------------------------------------------


def test_interleave_key_mixture_stable_prefixes(spark):
    """Weights {a:2, b:1}: every prefix of the key order holds a and b
    near their 2:1 ratio (stride property), and the full order matches
    the scalar stride-scheduling reference."""
    import hashlib

    from otel_tail_sampler_spark.operators.packing import interleave_key

    rows = [(f"a{i:02d}", "a") for i in range(20)] + [
        (f"b{i:02d}", "b") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = sorted(
        (r["interleave_key"], r["doc_id"], r["source"])
        for r in interleave_key(df, {"a": 2, "b": 1}).collect()
    )
    order = [(d, s) for _, d, s in out]

    # scalar stride reference: pass = (r+1) * lcm/w, ties (group, id)
    def h(did):
        return hashlib.md5(f"{did}|interleave".encode()).hexdigest()

    ref = []
    for grp, w in (("a", 2), ("b", 1)):
        ids = sorted(
            (d for d, g in rows if g == grp), key=lambda d: (h(d), d)
        )
        for r, did in enumerate(ids):
            # key order: (pass, len(group), group, id) — the length
            # prefix keeps the key injective under '|' in values
            ref.append(((r + 1) * (2 // w), len(grp), grp, did))
    ref.sort()
    assert order == [(d, g) for _, _, g, d in ref]

    # stride property: every prefix is within one stride of 2:1
    seen_a = seen_b = 0
    for _, s in order:
        seen_a += s == "a"
        seen_b += s == "b"
        assert abs(seen_a - 2 * seen_b) <= 2, (seen_a, seen_b)


def test_interleave_key_missing_weight_raises(spark):
    from otel_tail_sampler_spark.operators.packing import interleave_key

    df = spark.createDataFrame(
        [("x", "a"), ("y", "zz")], "doc_id string, source string"
    )
    out = interleave_key(df, {"a": 1})
    import pytest as _pytest

    with _pytest.raises(Exception, match="no weight for group"):
        out.collect()


def test_interleave_key_composes_with_packing(spark):
    """Packing on the interleave key consumes the mixture-stable order:
    tokens appear in exactly the key-sorted document order."""
    from otel_tail_sampler_spark.operators.packing import (
        interleave_key,
        pack_sequences,
    )

    rows = [
        (f"a{i}", "a", [10 + i] * 3) for i in range(4)
    ] + [(f"b{i}", "b", [90 + i] * 3) for i in range(2)]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, tokens array<int>"
    )
    keyed = interleave_key(df, {"a": 2, "b": 1})
    packed = (
        pack_sequences(keyed, max_len=6, id_col="interleave_key")
        .toPandas()
        .sort_values("example_id")
    )
    stream = [int(t) for toks in packed["tokens"] for t in toks]
    want = [
        t
        for k, toks in sorted(
            (r["interleave_key"], r["tokens"]) for r in keyed.collect()
        )
        for t in toks
    ]
    assert stream == want


def test_interleave_key_injective_with_separator_in_values(spark):
    """Group/id values containing the '|' separator must still yield
    distinct keys (the length prefix disambiguates): ('a', 'b|c') vs
    ('a|b', 'c') was a collision without it."""
    from otel_tail_sampler_spark.operators.packing import interleave_key

    df = spark.createDataFrame(
        [("b|c", "a"), ("c", "a|b")], "doc_id string, source string"
    )
    keys = [
        r["interleave_key"]
        for r in interleave_key(df, {"a": 1, "a|b": 1}).collect()
    ]
    assert len(set(keys)) == 2


def test_interleave_key_overflow_guard_raises(spark):
    # ADVICE r5: coprime weights with a huge lcm would wrap the int64
    # pass number (rank+1)*stride into a '-'-prefixed key that sorts
    # before every valid key — the compose-time guard must raise instead.
    import pytest as _pytest

    from otel_tail_sampler_spark.operators.packing import interleave_key

    df = spark.createDataFrame(
        [(f"d{i}", "a" if i % 2 else "b") for i in range(4)],
        "doc_id string, source string",
    )
    # lcm(1, b) = b ~ 2^62, so group a's stride is ~2^62 and its worst
    # pass number (2 rows + 1) * stride overflows int64
    big = {"a": 1, "b": (1 << 62) + 57}
    with _pytest.raises(ValueError, match="2\\^63 - 1"):
        interleave_key(df, big)
    # sane ratios on the same data compose fine
    assert interleave_key(df, {"a": 3, "b": 1}).count() == 4


def test_subrange_rank_offsets_collect_is_bounded(spark, monkeypatch):
    # VERDICT r5 #3: a high-cardinality group column must raise a sizing
    # error naming the quantize-upstream remedy, not grow the driver
    # collect without bound. The ceiling is monkeypatched low so the
    # planted input (40 distinct groups) exceeds it.
    import pytest as _pytest

    from otel_tail_sampler_spark.operators import packing

    df = spark.createDataFrame(
        [(f"d{i}", i) for i in range(40)], "doc_id string, metric int"
    )
    monkeypatch.setattr(packing, "_MAX_OFFSET_ROWS", 16)
    with _pytest.raises(ValueError, match="Quantize the group metric"):
        packing.curriculum_order(df, metric_col="metric")
