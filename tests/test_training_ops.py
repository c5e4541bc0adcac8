"""Training-data operators: dedup, similarity, text analysis, multimodal."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators import dedup as D
from otel_tail_sampler_spark.operators import similarity as S
from otel_tail_sampler_spark.operators import text as T
from otel_tail_sampler_spark.operators import multimodal as M

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# --- dedup -------------------------------------------------------------------


def test_exact_dedup_with_planted_dups(spark, docs):
    base = docs.limit(10)
    dup = base.withColumn("doc_id", F.col("doc_id") + 1000)
    both = base.unionByName(dup)
    kept = D.exact_dedup(both)
    assert kept.count() == 10
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1000  # min-id wins


def test_minhash_lsh_finds_planted_near_dup(spark, docs):
    pdf = docs.limit(20).toPandas()
    near = pdf.iloc[:3].copy()
    near["doc_id"] += 5000
    # perturb one word -> high jaccard, not identical
    near["text"] = near["text"].str.replace(" the ", " zzz ", n=1, regex=False)
    both = spark.createDataFrame(pd.concat([pdf, near]))
    pairs = D.minhash_lsh_pairs(both, num_hashes=12, bands=6).toPandas()
    planted = {(i, i + 5000) for i in near["doc_id"] - 5000}
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert planted <= got


def test_ngram_jaccard_exact(spark):
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),          # identical -> jaccard 1.0
        (3, "a b c d e f g zzz"),        # overlaps
        (4, "q w e r t y u i"),          # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, shingle_n=3, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (3, 4) not in pairs
    assert 0 < pairs[(1, 3)] < 1


def test_simhash_identical_and_stability(spark, docs):
    fp1 = {r["doc_id"]: r["simhash"] for r in D.simhash(docs.limit(30)).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in D.simhash(docs.limit(30)).collect()}
    assert fp1 == fp2
    assert all(0 <= v < 2**16 for v in fp1.values())
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 9000)
    fp = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash(docs.limit(5).unionByName(dup)).collect()
    }
    ids = [i for i in fp if i < 9000]
    assert len(ids) == 5 and all(fp[i] == fp[i + 9000] for i in ids)


def test_embedding_dup_pairs(spark, emb):
    base = emb.limit(10)
    dup = base.withColumn("vec_id", F.col("vec_id") + 700)
    pairs = D.embedding_dup_pairs(base.unionByName(dup), threshold=0.999).toPandas()
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert {(i_, i_ + 700) for i_ in pairs["id_a"].unique() if i_ < 700} <= got
    assert len(got) >= 10
    assert (pairs["cosine"] >= 0.999).all()


def test_embedding_dup_pairs_lsh(spark, emb):
    # exact duplicates project to identical sign bits in every band, so the
    # banded-LSH path has recall 1.0 on them by construction
    base = emb.limit(10)
    dup = base.withColumn("vec_id", F.col("vec_id") + 700)
    both = base.unionByName(dup)
    got = D.embedding_dup_pairs_lsh(both, dim=64, threshold=0.999).toPandas()
    planted = {(int(a), int(a) + 700) for a in base.toPandas()["vec_id"]}
    assert planted <= {(a, b) for a, b in zip(got["id_a"], got["id_b"])}

    # on the raw corpus the LSH candidates are a SUBSET of the brute pairs
    brute = D.embedding_dup_pairs(emb, threshold=0.4).toPandas()
    lsh = D.embedding_dup_pairs_lsh(emb, dim=64, threshold=0.4).toPandas()
    bp = {(a, b) for a, b in zip(brute["id_a"], brute["id_b"])}
    lp = {(a, b) for a, b in zip(lsh["id_a"], lsh["id_b"])}
    assert lp <= bp

    # scale shape: candidate generation is an equi-join on (band, key) —
    # no cartesian/nested-loop stage anywhere in the plan
    plan = D.embedding_dup_pairs_lsh(emb, dim=64, threshold=0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- similarity --------------------------------------------------------------


@pytest.fixture(scope="module")
def queries(spark, emb):
    return (
        emb.limit(3)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


def test_bruteforce_topk_matches_numpy(spark, emb, queries):
    got = S.cosine_topk(emb, queries, k=5).toPandas()
    E = emb.toPandas().sort_values("vec_id")
    mat = np.stack(E["embedding"].to_numpy())
    ids = E["vec_id"].to_numpy()
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in [0, 1, 2]:
        qv = mat_n[ids == qid][0]
        sims = mat_n @ qv
        order = np.lexsort((ids, -sims))[:5]
        want = list(ids[order])
        got_q = got[got["query_id"] == qid].sort_values("rank")["corpus_id"].tolist()
        assert got_q == want
        # self is always rank 1 with cosine ~1
        assert got_q[0] == qid


def test_lsh_topk_recall(spark, emb, queries):
    exact = S.cosine_topk(emb, queries, k=5).toPandas()
    approx = S.lsh_topk(emb, queries, k=5, n_planes=4, dim=64).toPandas()
    # bucket always contains the query itself -> rank-1 self-hit guaranteed
    for qid in [0, 1, 2]:
        a = approx[approx["query_id"] == qid]
        assert len(a) >= 1 and a.iloc[0]["corpus_id"] == qid
    # single-probe recall is partial but nonzero beyond self
    inter = set(map(tuple, approx[["query_id", "corpus_id"]].values)) & set(
        map(tuple, exact[["query_id", "corpus_id"]].values)
    )
    assert len(inter) >= 3


# --- text --------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world  foo"), (2, ""), (3, "a,b c!")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        T.token_count_ws(F.col("text")).alias("ws"),
        T.token_count_bpe_ish(F.col("text")).alias("bpe"),
    ).collect()
    by = {r["doc_id"]: (r["ws"], r["bpe"]) for r in out}
    assert by[1] == (3, 3)
    assert by[2][0] == 0
    assert by[3] == (2, 5)  # a , b c !


def test_winnow_fingerprints(spark):
    """Winnowing guarantee (Schleimer et al. 2003): documents sharing a run
    of >= k + window - 1 words share at least one fingerprint; identical
    docs have identical fingerprint sets; and the plan is shuffle-free."""
    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, f"PREFIX one two three {shared} alpha beta"),
        (2, f"totally different lead-in words here {shared} and another tail"),
        (3, f"PREFIX one two three {shared} alpha beta"),  # identical to 1
        (4, "tiny doc"),  # shorter than k words -> whole-text fallback
        (5, "unrelated content about spark catalyst optimizer internals only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.winnow_fingerprints(df, k=4, window=5).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in out.groupby("doc_id")}
    assert by_doc[1] & by_doc[2], "shared 14-word run must share a fingerprint"
    assert by_doc[1] == by_doc[3], "identical docs -> identical fingerprints"
    assert len(by_doc[4]) == 1  # single whole-text gram
    assert not (by_doc[5] & by_doc[1])
    # per-doc-local: no exchange anywhere in the physical plan
    plan = T.winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_winnow_poly(spark):
    """Char-gram Karp-Rabin winnowing: shared runs >= k + window - 1 chars
    share a fingerprint; identical docs match exactly; plan shuffle-free;
    hashes stay inside the integer-exact-in-double envelope (< mod)."""
    shared = "x" * 5 + "the quick brown fox jumps over the lazy dog" + "y" * 5
    rows = [
        (1, f"aaa {shared} bbb"),
        (2, f"zzzz completely different prefix {shared} qqq"),
        (3, f"aaa {shared} bbb"),
        (4, "tiny"),  # shorter than k chars -> whole-text hash
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.winnow_fingerprints_poly(df, k=16, window=8).toPandas()
    assert (out["fp"] >= 0).all() and (out["fp"] < 1_048_573).all()
    by_doc = {d: set(g["fp"]) for d, g in out.groupby("doc_id")}
    assert by_doc[1] & by_doc[2]
    assert by_doc[1] == by_doc[3]
    assert len(by_doc[4]) == 1
    plan = T.winnow_fingerprints_poly(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_lang_id(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der hund ist ein tier und das ist gut"),
        (3, "le chat est un animal et la maison est grande"),
        (4, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["l"] for r in df.select("doc_id", T.lang_id(F.col("text")).alias("l")).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "und"


# --- multimodal --------------------------------------------------------------


def test_codecs_golden_and_roundtrip():
    """Pure-numpy codec kernels on known payloads (no Spark)."""
    # PPM golden: 2x1 image with known bytes
    arr = np.array([[[255, 0, 10], [1, 2, 3]]], dtype=np.uint8)
    b = M.encode_ppm(arr)
    assert b == b"P6\n2 1\n255\n" + bytes([255, 0, 10, 1, 2, 3])
    assert (M.decode_ppm(b) == arr).all()
    # comment handling per netpbm spec
    commented = b"P6\n# a comment\n2 1\n255\n" + bytes([255, 0, 10, 1, 2, 3])
    assert (M.decode_ppm(commented) == arr).all()

    # WAV golden: known samples round-trip, header fields exact
    samples = np.array([0, 1, -1, 32767, -32768, 100], dtype=np.int16)
    wav = M.encode_wav(samples, 8000)
    got, rate = M.decode_wav(wav)
    assert rate == 8000 and (got == samples).all()
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"

    # video container round-trip
    frames = [arr, arr * 0, arr // 2]
    vid = M.encode_video(frames)
    back = M.decode_video(vid)
    assert len(back) == 3 and all((x == y).all() for x, y in zip(frames, back))

    # nearest-neighbor resize golden: 2x2 -> 1x1 picks the pixel-center source
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    small = M._resize_nearest(img, 1, 1)
    assert small.shape == (1, 1, 3) and (small[0, 0] == img[1, 1]).all()


def test_media_stats_matches_preencode_truth(spark):
    """The decode kernels must invert the encode stage: stats of the DECODED
    payloads equal the ground truth computed on the raw arrays pre-encode."""
    import pandas as pd

    media = M.synthetic_media(spark, n=30, seed=7)
    got = (
        M.media_stats(media)
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    truth = pd.DataFrame(
        [M._gen_one(i, 7)[1] for i in range(30)], columns=M.TRUTH_COLUMNS
    ).sort_values("media_id").reset_index(drop=True)
    for c in M.TRUTH_COLUMNS:
        if c in ("media_id", "kind"):
            assert got[c].tolist() == truth[c].tolist(), c
        else:
            assert (
                got[c].astype("float64").fillna(-1).tolist()
                == truth[c].astype("float64").fillna(-1).tolist()
            ), c


def test_ivf_topk_recall(spark, emb, queries):
    exact = S.cosine_topk(emb, queries, k=5).toPandas()
    approx = S.ivf_topk(emb, queries, k=5, n_clusters=8, nprobe=3).toPandas()
    # self-hit guaranteed (query's own cluster always probed first)
    for qid in [0, 1, 2]:
        a = approx[approx["query_id"] == qid].sort_values("rank")
        assert len(a) == 5 and a.iloc[0]["corpus_id"] == qid
    inter = set(map(tuple, approx[["query_id", "corpus_id"]].values)) & set(
        map(tuple, exact[["query_id", "corpus_id"]].values)
    )
    assert len(inter) >= 8  # >=~50% recall at nprobe 3/8 on random vectors
    # deterministic
    again = S.ivf_topk(emb, queries, k=5, n_clusters=8, nprobe=3).toPandas()
    assert approx.equals(again)


def test_ngram_jaccard_candidates_first(spark, docs):
    """Candidates path: (1) equal scores to the quadratic path restricted to
    the candidate pairs; (2) plan proof the shingle self-join never exists —
    every join on the shingle column also keys on a doc id."""
    import re

    sub = docs.limit(40)
    cand = D.minhash_lsh_pairs(sub, num_hashes=12, bands=6).select("id_a", "id_b")
    fast = D.ngram_jaccard_pairs(sub, threshold=0.0, candidates=cand)
    slow_all = D.ngram_jaccard_pairs(sub, threshold=0.0)
    slow = slow_all.join(cand, ["id_a", "id_b"], "semi")

    f = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in fast.collect()}
    s = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in slow.collect()}
    # fast path may drop zero-intersection candidates (jaccard 0); others equal
    assert {k: v for k, v in s.items() if v > 0} == {k: v for k, v in f.items() if v > 0}

    def shingle_selfjoins_without_id_equality(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        out = []
        for cond in re.findall(r"Join \w+, \((.*)\)\n", plan):
            if re.search(r"sh#\d+ = sh#\d+", cond) and not re.search(
                r"id_[ab]#\d+L? = id_[ab]#\d+L?", cond
            ):
                out.append(cond)
        return out

    # the quadratic path HAS a shingle self-join (sanity: detector works) …
    assert shingle_selfjoins_without_id_equality(slow_all)
    # … the candidates-first path must not
    assert not shingle_selfjoins_without_id_equality(fast)


def test_redact_pii(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org now"),
            (2, "call 555-123-4567 from 192.168.0.1"),
            (3, "no pii here at all"),
            (4, "ip 10.0.0.1 twice 10.0.0.2 and 1.2.3.4.5 runs long"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.redact_pii(docs).collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_phone"] == 0
    assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert out[2]["redacted"] == "call <PHONE> from <IPV4>"
    assert out[3]["redacted"] == "no pii here at all"
    assert (
        out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ipv4"] == 0
    )
    # the 5-octet run greedily matches its first four octets ('.' is a
    # word boundary) — Java and RE2 agree on this; both clean IPs caught
    assert out[4]["n_ipv4"] == 3
    assert "<IPV4> twice <IPV4>" in out[4]["redacted"]
    assert "<IPV4>.5" in out[4]["redacted"]


def test_repetition_signals_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "aa aa aa aa"),  # 4 words, 1 distinct; bigram 'aa aa' x3
            (2, "a b c d"),  # all distinct; 3 distinct bigrams
            (3, "x"),  # single word: no bigrams
            (4, "spam spam ham spam eggs"),  # top word 3/5; 'spam spam' 1/4
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_signals(docs).collect()}
    assert out[1]["n_words"] == 4
    assert out[1]["dup_word_frac"] == 0.75
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0
    assert out[2]["top_word_frac"] == 0.25
    assert out[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert out[3]["n_words"] == 1
    assert out[3]["top_bigram_frac"] == 0.0
    assert out[4]["dup_word_frac"] == 0.4  # (5 - 3 distinct) / 5
    assert out[4]["top_word_frac"] == 0.6
    assert out[4]["top_bigram_frac"] == 0.25


def test_contamination_containment_and_ties(spark):
    """Containment (not Jaccard) semantics, min-train-id tie-break, and the
    no-overlap / too-short-for-shingles edge cases."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "lorem ipsum dolor sit amet consectetur"),
            # superset of doc 1 -> same intersection count, larger id
            (3, "the quick brown fox jumps over the lazy dog and keeps running far away"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "completely different words entirely here now"),
            (102, "xy zz"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["eval_id"]: r
        for r in D.contamination(train, evals, shingle_n=3, threshold=0.5).collect()
    }
    assert len(out) == 3
    # fully contained in both 1 and 3 (tie on count) -> smallest train id wins
    assert out[100]["best_train_id"] == 1
    assert out[100]["containment"] == 1.0
    assert out[100]["contaminated"]
    # no shared shingle
    assert out[101]["best_train_id"] is None
    assert out[101]["containment"] == 0.0
    assert not out[101]["contaminated"]
    # 2 words < shingle_n -> empty shingle set, reported clean
    assert out[102]["best_train_id"] is None
    assert out[102]["containment"] == 0.0
    assert not out[102]["contaminated"]
    # containment ignores train-doc length: eval 100 vs train 3 would have
    # jaccard well below 1.0, containment must still be 1.0 (doc 3 superset)
    only3 = D.contamination(
        train.filter(F.col("doc_id") == 3), evals, shingle_n=3, threshold=0.5
    ).collect()
    r100 = [r for r in only3 if r["eval_id"] == 100][0]
    assert r100["best_train_id"] == 3 and r100["containment"] == 1.0


def test_winnow_pairs_recall_vs_minhash_and_hot_fp_cap(spark, docs):
    """The MOSS composition: (a) winnow-shared-fp candidates find every
    planted near-dup that the MinHash-LSH path finds (recall >= 1.0 of the
    LSH candidate set on this corpus); (b) a fingerprint present in every
    doc is dropped by max_fp_df before the self-join."""
    # plant near-dups: copy 3 docs with a one-word prefix tweak
    pdf = docs.limit(20).toPandas()
    near = pdf.iloc[:3].copy()
    near["doc_id"] = near["doc_id"] + 5000
    near["text"] = "tweak " + near["text"]
    both = spark.createDataFrame(pd.concat([pdf, near]))

    fps = T.winnow_fingerprints(both, k=4, window=5)
    wpairs = T.winnow_candidate_pairs(fps, max_fp_df=16, min_shared=2)
    got = {(r["id_a"], r["id_b"]) for r in wpairs.collect()}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(both, num_hashes=12, bands=6)
        .select("id_a", "id_b")
        .collect()
    }
    planted = {(int(r), int(r) + 5000) for r in pdf.iloc[:3]["doc_id"]}
    assert planted <= got  # every planted near-dup surfaces
    # recall vs the LSH candidate generator on its own found set
    assert len(got & lsh) / max(len(lsh), 1) >= 0.9

    # hot-fp cap: a fingerprint shared by ALL docs must not survive
    n = both.count()
    hot = T.winnow_candidate_pairs(fps, max_fp_df=n - 1, min_shared=1)
    capped = T.winnow_candidate_pairs(fps, max_fp_df=4, min_shared=1)
    assert capped.count() <= hot.count()


def test_ivf_build_search_split_matches_one_shot(spark, emb, tmp_path):
    """ivf_build + ivf_search == ivf_topk, including through a materialized
    cluster-partitioned index (the 100 TB reuse pattern)."""
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    one_shot = S.ivf_topk(emb, queries, k=5, n_clusters=4, nprobe=2).collect()
    cents, assigned = S.ivf_build(emb, n_clusters=4)
    split = S.ivf_search(cents, assigned, queries, k=5, nprobe=2).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["corpus_id"]) for r in rows)
    assert key(split) == key(one_shot)
    # materialize the index, search from the re-read (partition-pruned scan)
    idx = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("cluster").parquet(idx)
    re_read = spark.read.parquet(idx)
    again = S.ivf_search(cents, re_read, queries, k=5, nprobe=2).collect()
    assert key(again) == key(one_shot)


def test_winnow_report_containment_asymmetry(spark):
    """MOSS per-file fractions: a short doc fully inside a long one scores
    ~1.0 on its own side and lower on the long doc's side."""
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    fps = T.winnow_fingerprints(df, k=4, window=5)
    out = T.winnow_similarity_report(fps, max_fp_df=None, min_shared=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["frac_a"] == 1.0        # every short-doc fingerprint matched
    assert 0 < r["frac_b"] < 1.0     # long doc has extra fingerprints


def test_contamination_string_ids_and_hot_gram_cap(spark):
    """(a) string doc ids must work — the tie-break is pure ordering, no
    arithmetic on the id; (b) max_gram_df prunes a planted stop-phrase
    gram BEFORE the join, bounding the T×E fanout a hot gram would emit."""
    stop = "one of the"  # planted hot trigram: in EVERY train doc
    train = spark.createDataFrame(
        [(f"t{i}", f"{stop} unique{i} word{i} tail{i}") for i in range(10)]
        + [("t_dup", "the quick brown fox jumps again")],
        "doc_id string, text string",
    )
    evals = spark.createDataFrame(
        [
            ("e1", "the quick brown fox jumps again"),
            ("e2", f"{stop} nothing else shared here"),
        ],
        "doc_id string, text string",
    )
    out = {
        r["eval_id"]: r
        for r in D.contamination(
            train, evals, shingle_n=3, threshold=0.5, max_gram_df=2
        ).collect()
    }
    # string ids round-trip untouched (ANSI-safe: no cast on the id)
    assert out["e1"]["best_train_id"] == "t_dup"
    assert out["e1"]["containment"] == 1.0
    # the planted hot gram (df=10 > cap) is pruned: e2 shares nothing else,
    # so it reports CLEAN instead of fanning out 10 pair rows
    assert out["e2"]["best_train_id"] is None
    assert out["e2"]["containment"] == 0.0
    # the capped report says so in-band: exactly the one planted hot gram
    # was pruned, on every row (a 0 would claim the report is exhaustive)
    assert all(r["n_capped_grams"] == 1 for r in out.values())
    # and the intermediate pair count is bounded by the cap, not by T×E:
    # with the cap lifted the same eval doc matches all 10 train docs
    uncapped = D.contamination(
        train, evals, shingle_n=3, threshold=0.5, max_gram_df=None
    )
    n_pairs_uncapped = uncapped.filter(
        (F.col("eval_id") == "e2") & F.col("best_train_id").isNotNull()
    ).count()
    assert n_pairs_uncapped == 1  # best-of report still one row...
    # ...but the underlying match exists uncapped and not capped
    r_e2 = uncapped.filter(F.col("eval_id") == "e2").collect()[0]
    assert r_e2["containment"] > 0.0
    # cap=None prunes nothing -> the report declares itself exhaustive
    assert r_e2["n_capped_grams"] == 0


def test_contamination_default_cap_bounds_fanout(spark):
    """Default-config contamination must be fanout-bounded (VERDICT r3 #6):
    a gram present in more than DEFAULT_MAX_GRAM_DF train docs is pruned
    with NO explicit cap argument — a default call at corpus scale can
    never hit unbounded hot-gram fanout."""
    from otel_tail_sampler_spark.operators.dedup import DEFAULT_MAX_GRAM_DF

    assert DEFAULT_MAX_GRAM_DF is not None
    stop = "all rights reserved by"  # planted boilerplate 4-gram
    n = DEFAULT_MAX_GRAM_DF + 1
    train = spark.createDataFrame(
        [(i, f"{stop} owner{i} suffix{i}") for i in range(n)],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(1_000_000, f"{stop} nothing else here")],
        "doc_id long, text string",
    )
    out = D.contamination(train, evals, shingle_n=4).collect()
    assert out[0]["best_train_id"] is None
    assert out[0]["containment"] == 0.0
    # one doc under the cap: the same gram at df <= cap still matches
    under = D.contamination(
        train.limit(DEFAULT_MAX_GRAM_DF), evals, shingle_n=4
    ).collect()
    assert under[0]["containment"] > 0.0


def test_hash_tokenize_deterministic_and_composes(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "alpha")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.hash_tokenize(df, vocab_size=128).collect()}
    # same word -> same id; ids in [0, vocab)
    assert out[1]["tokens"][0] == out[1]["tokens"][2] == out[3]["tokens"][0]
    assert all(0 <= t < 128 for t in out[1]["tokens"])
    assert out[1]["n_tok"] == 3 and out[2]["tokens"] == [] and out[2]["n_tok"] == 0
    # stable across partitionings (pure projection)
    a = T.hash_tokenize(df, vocab_size=128).collect()
    b = T.hash_tokenize(df.repartition(3), vocab_size=128).collect()
    assert {r["doc_id"]: r["tokens"] for r in a} == {r["doc_id"]: r["tokens"] for r in b}


def test_dup_token_spans_flags_planted_window(spark):
    shared = list(range(100, 116))  # 16-token run planted in docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, shared + [1] * 8),
            (2, [2] * 8 + shared),
            (3, list(range(500, 524))),  # unique -> no flags
            (4, [7] * 4),                # shorter than window -> no windows
        ],
        "doc_id long, tokens array<int>",
    )
    out = D.dup_token_spans(df, window=16, stride=8, min_count=2).collect()
    got = {(r["doc_id"], r["win_start"]) for r in out}
    # the planted run starts at offset 0 in doc 1 and offset 8 in doc 2
    assert (1, 0) in got and (2, 8) in got
    assert all(r["dup_count"] == 2 for r in out)
    assert not any(r["doc_id"] in (3, 4) for r in out)


def test_trim_dup_spans_keeps_first_occurrence(spark):
    shared = list(range(100, 116))  # 16-token duplicated run
    df = spark.createDataFrame(
        [
            (1, shared + [1] * 8),        # first occurrence -> kept whole
            (2, [2] * 8 + shared),        # later occurrence -> trimmed
            (3, list(range(500, 524))),   # unique -> untouched
        ],
        "doc_id long, tokens array<int>",
    )
    out = {
        r["doc_id"]: r
        for r in D.trim_dup_spans(df, window=16, stride=8, min_count=2).collect()
    }
    assert out[1]["tokens"] == shared + [1] * 8 and out[1]["n_removed"] == 0
    assert out[2]["tokens"] == [2] * 8 and out[2]["n_removed"] == 16
    assert out[3]["n_removed"] == 0 and len(out[3]["tokens"]) == 24
    # conservation: removing the dup span kills the dup signal
    after = D.dup_token_spans(
        D.trim_dup_spans(df, window=16, stride=8), window=16, stride=8
    ).count()
    assert after == 0


def test_trim_dup_spans_boilerplate_hot_hash(spark):
    """The substring-dedup PRIMARY input: one boilerplate span (license
    header) planted across many docs — a single hot window hash. The
    groupBy-min election must keep exactly the (min doc_id, min start)
    occurrence and trim every other doc, with no per-hash window task
    (plan asserted separately in test_plans.py)."""
    header = list(range(900, 916))  # 16-token boilerplate
    rows = [(i, header + [1000 + i] * 8) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {
        r["doc_id"]: r
        for r in D.trim_dup_spans(df, window=16, stride=8, min_count=2).collect()
    }
    assert out[1]["tokens"] == header + [1001] * 8 and out[1]["n_removed"] == 0
    for i in range(2, 41):
        assert out[i]["tokens"] == [1000 + i] * 8, f"doc {i} not trimmed"
        assert out[i]["n_removed"] == 16


def test_hash_tokenize_null_text_is_empty(spark):
    """NULL text -> empty token array + n_tok 0 (ADVICE r3: a bare
    length(norm) == 0 predicate is NULL for NULL text and fell through to
    the otherwise branch, emitting NULL tokens and NULL n_tok)."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in T.hash_tokenize(df, vocab_size=64).collect()}
    assert out[1]["tokens"] == [] and out[1]["n_tok"] == 0
    assert out[3]["tokens"] == [] and out[3]["n_tok"] == 0
    assert len(out[2]["tokens"]) == 2 and out[2]["n_tok"] == 2


def test_build_vocab_and_encode_hand_computed(spark):
    from otel_tail_sampler_spark.operators.corpus import (
        build_vocab,
        encode_with_vocab,
    )

    df = spark.createDataFrame(
        [(1, [5, 5, 5, 7, 7, 9]), (2, [7, 11])],
        "doc_id long, tokens array<int>",
    )
    # freqs: 5->3, 7->3, 9->1, 11->1; rank by (freq DESC, token ASC)
    v = {
        r["token"]: (r["freq"], r["rank_id"])
        for r in build_vocab(df, vocab_size=3).collect()
    }
    assert v == {5: (3, 0), 7: (3, 1), 9: (1, 2)}
    out = {
        r["doc_id"]: r
        for r in encode_with_vocab(df, build_vocab(df, vocab_size=3)).collect()
    }
    assert out[1]["tokens"] == [0, 0, 0, 1, 1, 2] and out[1]["n_unk"] == 0
    assert out[2]["tokens"] == [1, -1] and out[2]["n_unk"] == 1


def test_mixture_upsample_copy_counts(spark):
    from otel_tail_sampler_spark.operators.corpus import (
        mixture_sample,
        mixture_upsample,
    )

    docs = spark.createDataFrame(
        [(i, "a") for i in range(200)], "doc_id long, source string"
    )
    # fractional weight: floor(w)=2 copies always, extra iff hash frac < .5
    counts = [
        r["count"]
        for r in mixture_upsample(docs, {"a": 2.5})
        .groupBy("doc_id")
        .count()
        .collect()
    ]
    assert len(counts) == 200 and set(counts) <= {2, 3}
    frac3 = sum(1 for c in counts if c == 3) / 200
    assert 0.3 < frac3 < 0.7
    # integer weight: exactly w copies, dense 0-based copy index
    out2 = mixture_upsample(docs, {"a": 2.0})
    assert out2.count() == 400
    assert out2.filter(F.col("copy") >= 2).count() == 0
    # weight < 1 degrades to mixture_sample's exact keep set
    a = {r["doc_id"] for r in mixture_upsample(docs, {"a": 0.5}).collect()}
    b = {r["doc_id"] for r in mixture_sample(docs, {"a": 0.5}).collect()}
    assert a == b
    # unlisted source drops
    assert mixture_upsample(docs, {"other": 3.0}).count() == 0


def test_doc_rarity_hand_computed(spark):
    from otel_tail_sampler_spark.operators.corpus import doc_rarity

    df = spark.createDataFrame(
        [(1, [10, 10, 20]), (2, [20, 30]), (3, [])],
        "doc_id long, tokens array<int>",
    )
    # corpus freqs: 10->2, 20->2, 30->1
    out = {r["doc_id"]: r for r in doc_rarity(df, rare_threshold=2).collect()}
    assert out[1]["n_tok"] == 3 and abs(out[1]["mean_freq"] - 2.0) < 1e-12
    assert out[1]["rare_frac"] == 0.0 and out[1]["min_freq"] == 2
    assert abs(out[2]["mean_freq"] - 1.5) < 1e-12
    assert abs(out[2]["rare_frac"] - 0.5) < 1e-12 and out[2]["min_freq"] == 1
    assert out[3]["n_tok"] == 0 and out[3]["min_freq"] == 0


def test_corpus_mixture_and_vocab(spark, docs):
    from otel_tail_sampler_spark.operators.corpus import mixture_sample, vocab_histogram

    # nested keep sets as a source's rate rises; unlisted sources drop
    lo = mixture_sample(docs, {"src0": 0.3}).toPandas()
    hi = mixture_sample(docs, {"src0": 0.9}).toPandas()
    assert set(lo["source"]) <= {"src0"} and set(hi["source"]) <= {"src0"}
    assert set(lo["doc_id"]) <= set(hi["doc_id"])
    assert len(hi) <= (docs.filter("source = 'src0'").count())

    # vocab histogram conserves total token count
    tok = spark.createDataFrame(
        [("a", [1, 2, 2]), ("b", [2, 3]), ("c", [])],
        "doc_id string, tokens array<int>",
    )
    h = {r["token"]: r["freq"] for r in vocab_histogram(tok).collect()}
    assert h == {1: 1, 2: 3, 3: 1}


def test_fim_transform_psm_structure(spark):
    """Applied rows carry exactly [PRE] prefix [SUF] suffix [MID] middle
    with the original reconstructible as prefix+middle+suffix; unapplied
    and short rows pass through untouched."""
    from otel_tail_sampler_spark.operators.augment import fim_transform

    rows = [(f"d{i}", list(range(i, i + 12))) for i in range(40)]
    rows.append(("short", [1, 2]))
    rows.append(("empty", []))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = fim_transform(
        df, pre_id=-1, mid_id=-2, suf_id=-3, rate=0.5, min_len=4
    ).toPandas()
    orig = dict(rows)
    n_applied = 0
    for _, r in out.iterrows():
        toks = list(r["tokens"])
        if not r["fim_applied"]:
            assert toks == orig[r["doc_id"]]
            continue
        n_applied += 1
        assert toks[0] == -1 and len(toks) == len(orig[r["doc_id"]]) + 3
        i_suf, i_mid = toks.index(-3), toks.index(-2)
        prefix = toks[1:i_suf]
        suffix = toks[i_suf + 1 : i_mid]
        middle = toks[i_mid + 1 :]
        assert prefix + middle + suffix == orig[r["doc_id"]]
    # hash-selected rate over 40 eligible docs: well away from 0 and 40
    assert 10 <= n_applied <= 30
    assert not out[out["doc_id"] == "short"]["fim_applied"].iloc[0]
    assert not out[out["doc_id"] == "empty"]["fim_applied"].iloc[0]


def test_fim_transform_is_pure_projection(spark):
    """Scan-time transform: no shuffle, no Python stage in the plan."""
    from otel_tail_sampler_spark.operators.augment import fim_transform

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4, 5])], "doc_id string, tokens array<int>"
    )
    plan = fim_transform(df, -1, -2, -3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_span_corruption_matches_scalar_reference(spark):
    """Spark output == a pure-python replay of the block grid (hash
    selection, sentinel numbering, clipped tail spans, final sentinel)."""
    import hashlib

    from otel_tail_sampler_spark.operators.augment import span_corruption

    def hfrac(key, seed):
        return (
            int(hashlib.md5(f"{key}|{seed}".encode()).hexdigest()[:8], 16)
            / 2**32
        )

    def ref(doc_id, toks, sb=-100, B=4, L=2, rate=0.5, seed="t5"):
        n = len(toks)
        if n == 0:
            return [], [], 0
        nb = (n + B - 1) // B
        corr = [hfrac(f"{doc_id}:{b}", seed) < rate for b in range(nb)]
        inputs, targets, k = [], [], 0
        for b in range(nb):
            lo, hi = b * B, min((b + 1) * B, n)
            if corr[b]:
                inputs += [sb - k] + toks[lo + L : hi]
                targets += [sb - k] + toks[lo : min(lo + L, n)]
                k += 1
            else:
                inputs += toks[lo:hi]
        targets += [sb - k]
        return inputs, targets, k

    rows = [
        ("a", list(range(10))),
        ("b", [7]),  # single short block
        ("c", []),  # empty doc: empty inputs AND targets
        ("d", list(range(100, 117))),  # clipped tail block
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {
        r["doc_id"]: (list(r["inputs"]), list(r["targets"]), r["n_spans"])
        for r in span_corruption(
            df, block=4, span_len=2, rate=0.5, seed="t5"
        ).collect()
    }
    assert got == {d: ref(d, t) for d, t in rows}


def test_span_corruption_reconstructs_and_is_pure_projection(spark):
    """inputs+targets carry exactly the original tokens (the denoising
    round trip), n_spans sentinels appear in both sides, and the plan is
    a shuffle-free projection with ONE md5 site (the corruption flags are
    computed once, never re-inlined per block)."""
    from otel_tail_sampler_spark.operators.augment import span_corruption

    df = spark.createDataFrame(
        [(f"d{i}", list(range(i * 7, i * 7 + 23))) for i in range(20)],
        "doc_id string, tokens array<int>",
    )
    out = span_corruption(df, block=8, span_len=3, rate=0.6).collect()
    assert any(r["n_spans"] > 0 for r in out)
    for r in out:
        orig = list(r["tokens"])
        sentinels_in = [x for x in r["inputs"] if x <= -100]
        kept = [x for x in r["inputs"] if x > -100]
        spans = [x for x in r["targets"] if x > -100]
        # round trip: non-sentinel inputs + targets == original multiset,
        # and order within each side is preserved
        assert sorted(kept + spans) == sorted(orig)
        assert len(sentinels_in) == r["n_spans"]
        # targets end with the final sentinel -(100 + n_spans)
        assert r["targets"][-1] == -100 - r["n_spans"]
    plan = (
        span_corruption(df, block=8, span_len=3)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Exchange" not in plan and plan.count("md5(") == 1
    with pytest.raises(ValueError):
        span_corruption(df, block=4, span_len=5)


def test_bigram_model_counts_and_cap_tiebreak(spark):
    """Hand-checked counts; the cap keeps (freq DESC, bigram ASC)."""
    from otel_tail_sampler_spark.operators.corpus import build_bigram_model

    df = spark.createDataFrame(
        [("a", [1, 2, 3]), ("b", [1, 2]), ("c", [9, 9]), ("d", [7])],
        "doc_id string, tokens array<int>",
    )
    got = {
        r["bigram"]: r["freq"]
        for r in build_bigram_model(df, model_size=100).collect()
    }
    # low word is the UNSIGNED reinterpretation (overflow-free packing);
    # for non-negative tokens it equals the raw value
    b12 = 1 * 4294967296 + 2
    b23 = 2 * 4294967296 + 3
    b99 = 9 * 4294967296 + 9
    assert got == {b12: 2, b23: 1, b99: 1}
    capped = [
        r["bigram"] for r in build_bigram_model(df, model_size=2).collect()
    ]
    # (1,2) freq 2 first; then freq-1 tie broken by smaller packed bigram
    assert capped == [b12, b23]


def test_ngram_counts_hand_computed(spark):
    """Hand-checked trigram counts; short docs contribute nothing; the
    cap keeps (freq DESC, gram ASC string order); n=1 degrades to the
    token histogram; negative ids render sign-exactly."""
    from otel_tail_sampler_spark.operators.corpus import ngram_counts

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4]), ("b", [5, -3]), ("c", [7]), ("d", [2, 3, 4])],
        "doc_id string, tokens array<int>",
    )
    got = {r["gram"]: r["freq"] for r in ngram_counts(df, n=3).collect()}
    assert got == {"1,2,3": 1, "2,3,4": 2}
    # cap: freq-2 gram first, then freq-1 ties by string order
    capped = [r["gram"] for r in ngram_counts(df, n=3, top=2).collect()]
    assert capped == ["2,3,4", "1,2,3"]
    uni = {r["gram"]: r["freq"] for r in ngram_counts(df, n=1).collect()}
    assert uni["-3"] == 1 and uni["2"] == 2 and uni["4"] == 2
    assert ngram_counts(df, n=5).count() == 0
    with pytest.raises(ValueError):
        ngram_counts(df, n=0)


def test_ngram_counts_n2_agrees_with_bigram_model(spark):
    """Cross-operator consistency: ngram_counts(n=2) and
    build_bigram_model count the same pairs (string key vs int64
    packing) — two independent formulations of adjacency."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        ngram_counts,
    )

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 1, 2]), ("b", [2, 3]), ("c", [9])],
        "doc_id string, tokens array<int>",
    )
    via_ngram = {
        r["gram"]: r["freq"] for r in ngram_counts(df, n=2).collect()
    }
    via_bigram = {
        f"{r['bigram'] // 2**32},{r['bigram'] % 2**32}": r["freq"]
        for r in build_bigram_model(df, model_size=100).collect()
    }
    assert via_ngram == via_bigram == {
        "1,2": 2, "2,3": 2, "3,1": 1
    }


def test_ngram_counts_plan_is_take_ordered(spark):
    """The cap must plan as TakeOrdered over the aggregated candidates
    (never a full global sort), with two-phase hash aggregation."""
    from otel_tail_sampler_spark.operators.corpus import ngram_counts

    df = spark.createDataFrame(
        [("a", [1, 2, 3, 4])], "doc_id string, tokens array<int>"
    )
    plan = (
        ngram_counts(df, n=3, top=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def _ref_bigram_novelty(rows, mref):
    """Scalar score_bigram_novelty: doc_id -> (n_bigrams, n_unseen,
    hit_freq_sum) against the {packed bigram: freq} model ``mref``."""
    out = {}
    for doc_id, toks in rows:
        pairs = [
            toks[i] * 4294967296 + (toks[i + 1] & 0xFFFFFFFF)
            for i in range(len(toks) - 1)
        ]
        out[doc_id] = (
            len(pairs),
            sum(1 for p in pairs if p not in mref),
            sum(mref.get(p, 0) for p in pairs),
        )
    return out


def test_score_bigram_novelty_scalar_reference(spark):
    """Spark scoring == a pure-python scalar reference on random docs."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        score_bigram_novelty,
    )

    rng = np.random.default_rng(11)
    rows = [
        (f"d{i}", [int(x) for x in rng.integers(0, 12, rng.integers(0, 15))])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    model = build_bigram_model(df, model_size=20)
    mref = {r["bigram"]: r["freq"] for r in model.collect()}
    got = {
        r["doc_id"]: (r["n_bigrams"], r["n_unseen"], r["hit_freq_sum"])
        for r in score_bigram_novelty(df, model).collect()
    }
    assert got == _ref_bigram_novelty(rows, mref)


def test_score_bigram_novelty_arrow_kernel_is_shuffle_free(spark):
    """The corpus never shuffles during scoring — model broadcast, one
    Arrow stage over the scan."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        score_bigram_novelty,
    )

    df = spark.createDataFrame(
        [("a", [1, 2, 3])], "doc_id string, tokens array<int>"
    )
    model = build_bigram_model(df, model_size=10)
    plan = (
        score_bigram_novelty(df, model)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_score_bigram_novelty_edges(spark):
    """The scoring kernel matches the scalar reference on edge docs
    (empty, single-token, INT32_MIN-adjacent tokens) and on an empty
    model (every bigram unseen)."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        score_bigram_novelty,
    )

    lo = -(2**31)
    rows = [("a", [1, 2, 3, 1, 2]), ("b", []), ("c", [7]),
            ("d", [lo, -1, lo, lo + 1])]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    model = build_bigram_model(df, model_size=3)
    for m in (model, model.limit(0)):
        mref = {r["bigram"]: r["freq"] for r in m.collect()}
        got = {
            r["doc_id"]: (r["n_bigrams"], r["n_unseen"], r["hit_freq_sum"])
            for r in score_bigram_novelty(df, m).collect()
        }
        assert got == _ref_bigram_novelty(rows, mref)
    assert len(mref) == 0  # the empty-model case really ran


def test_quantize_embeddings_hand_computed(spark):
    from otel_tail_sampler_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]), (3, [])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (list(r["qvec"]), r["scale"])
        for r in quantize_embeddings(df).collect()
    }
    # scale = 2/127; q = round(v * 127 / 2) = [64, -127, 32] (63.5 -> 64)
    assert got[1] == ([64, -127, 32], 2.0 / 127.0)
    assert got[2] == ([0, 0, 0], 0.0)
    assert got[3] == ([], 0.0)


def test_quantized_topk_tracks_float_topk(spark, emb):
    """int8 on 64 dims barely moves the ranking: the quantized top-5 per
    query overlaps the exact float top-5 in >= 4 of 5 slots and agrees on
    the nearest neighbor."""
    from otel_tail_sampler_spark.operators.similarity import (
        cosine_topk,
        quantize_embeddings,
        quantized_topk,
    )

    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = cosine_topk(emb, queries, k=5).toPandas()
    cq = quantize_embeddings(emb)
    qq = quantize_embeddings(emb.filter(F.col("vec_id") < 4)).withColumnRenamed(
        "vec_id", "query_id"
    )
    quant = quantized_topk(cq, qq, k=5, query_id="query_id").toPandas()
    for qid in exact["query_id"].unique():
        e = exact[exact["query_id"] == qid].sort_values("rank")
        g = quant[quant["query_id"] == qid].sort_values("rank")
        assert len(set(e["corpus_id"]) & set(g["corpus_id"])) >= 4, qid
        assert e["corpus_id"].iloc[0] == g["corpus_id"].iloc[0], qid


def test_topk_windows_are_group_limited(spark, emb):
    """Every per-query top-k window (ANN family, same shape as BM25's)
    must keep Catalyst's InferWindowGroupLimit: the rank<=k filter plants
    a partial WindowGroupLimit below the exchange, so a query matching
    the whole corpus never funnels its candidate set through one window
    task. Guard the oracle-checked member of the family."""
    from otel_tail_sampler_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )

    cq = quantize_embeddings(emb)
    qq = quantize_embeddings(emb.filter(F.col("vec_id") < 4)).withColumnRenamed(
        "vec_id", "query_id"
    )
    plan = (
        quantized_topk(cq, qq, k=5, query_id="query_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_chunk_documents_hand_computed(spark):
    from otel_tail_sampler_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [("a", list(range(10))), ("b", [1, 2, 3]), ("c", [])],
        "doc_id string, tokens array<int>",
    )
    out = chunk_documents(df, max_len=4, stride=3).toPandas()
    a = out[out["doc_id"] == "a"].sort_values("chunk_id")
    # ceil((10-4)/3)+1 = 3 chunks: [0:4], [3:7], [6:10]
    assert [list(x) for x in a["tokens"]] == [
        [0, 1, 2, 3], [3, 4, 5, 6], [6, 7, 8, 9]
    ]
    assert list(a["n_tok"]) == [4, 4, 4]
    b = out[out["doc_id"] == "b"]
    assert len(b) == 1 and list(b["tokens"].iloc[0]) == [1, 2, 3]
    assert not len(out[out["doc_id"] == "c"])
    # every position covered by >= 1 chunk for a stride-short tail
    out2 = chunk_documents(
        spark.createDataFrame(
            [("d", list(range(11)))], "doc_id string, tokens array<int>"
        ),
        max_len=4,
        stride=3,
    ).toPandas()
    covered = sorted({t for ch in out2["tokens"] for t in ch})
    assert covered == list(range(11))


def test_chunk_documents_is_pure_scan(spark):
    from otel_tail_sampler_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [("a", [1, 2, 3])], "doc_id string, tokens array<int>"
    )
    plan = (
        chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "InPandas" not in plan


def test_stratified_sample_exact_quota_and_reference(spark, docs, monkeypatch):
    """Per-group count == min(quota, group size); the two-level salted
    selection equals the naive single-window reference exactly."""
    from pyspark.sql import Window

    from otel_tail_sampler_spark.functions import ranking
    from otel_tail_sampler_spark.operators.corpus import stratified_sample

    monkeypatch.setattr(ranking, "SALT_BUCKETS", 8)
    got = stratified_sample(docs, quota=7).toPandas()
    sizes = docs.groupBy("source").count().toPandas()
    want_n = {r["source"]: min(7, r["count"]) for _, r in sizes.iterrows()}
    got_n = got.groupby("source")["doc_id"].count().to_dict()
    assert got_n == want_n
    ordv = F.md5(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("strat"))
    )
    w = Window.partitionBy("source").orderBy(ordv, F.col("doc_id"))
    ref = (
        docs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 7)
        .toPandas()
    )
    assert set(got["doc_id"]) == set(ref["doc_id"])


def test_mask_tokens_deterministic_and_counted(spark, monkeypatch):
    from otel_tail_sampler_spark.operators import augment
    from otel_tail_sampler_spark.operators.augment import mask_tokens

    rows = [(f"d{i}", list(range(100, 160))) for i in range(20)]
    rows.append(("empty", []))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = mask_tokens(df, mask_id=-9, rate=0.15).toPandas()
    orig = dict(rows)
    total = masked = 0
    for _, r in out.iterrows():
        toks = list(r["tokens"])
        o = orig[r["doc_id"]]
        assert len(toks) == len(o)
        changed = sum(1 for a, b in zip(toks, o) if a != b)
        assert changed == r["n_masked"]
        assert all(a == -9 for a, b in zip(toks, o) if a != b)
        total += len(o)
        masked += changed
    # 1200 positions at 15%: binomial mean 180, sd ~12.4
    assert 120 <= masked <= 240
    again = mask_tokens(df, mask_id=-9, rate=0.15).toPandas()
    assert list(map(list, again["tokens"])) == list(map(list, out["tokens"]))
    monkeypatch.setattr(augment, "MASK_SEED", "mlm2")
    other = mask_tokens(df, mask_id=-9, rate=0.15).toPandas()
    assert list(map(list, other["tokens"])) != list(map(list, out["tokens"]))


def test_pmi_collocations_hand_computed_with_negative_ids(spark):
    """Scores verified by hand; a negative token id pins the sign-correct
    bigram decode (the packed low word borrows from the high word)."""
    from otel_tail_sampler_spark.operators.corpus import pmi_collocations

    df = spark.createDataFrame(
        [
            ("a", [1, 2, 1, 2, 1, 3]),
            ("b", [1, 2, 4, 5]),
            ("c", [2, 3] * 5),
            ("d", [-7, 2, -7, 2, -7, 2]),
        ],
        "doc_id string, tokens array<int>",
    )
    out = {
        (r["token"], r["neighbor"]): (r["pair_freq"], r["score"], r["rank"])
        for r in pmi_collocations(df, top_k=3, min_count=2).collect()
    }
    # N = 5 + 3 + 9 + 5 = 22 bigrams
    # c(1,2)=3, c(1)=4, c(2)=11 -> 3*22/44 = 1.5
    assert out[(1, 2)] == (3, 3 * 22 / (4 * 11), 1)
    # c(-7,2)=3, c(-7)=3, c(2)=11 -> 3*22/33 = 2.0
    assert out[(-7, 2)] == (3, 3 * 22 / (3 * 11), 1)
    # c(2,-7)=2, c(2)=11, c(-7)=3
    assert out[(2, -7)][0] == 2
    assert abs(out[(2, -7)][1] - 2 * 22 / (11 * 3)) < 1e-12


def test_corpus_report_hand_computed(spark):
    from otel_tail_sampler_spark.operators.corpus import corpus_report

    df = spark.createDataFrame(
        [
            (1, "a b c", "s1"),
            (2, "a b c", "s1"),      # exact dup of 1 within s1
            (3, "x y", "s1"),
            (4, "one two three four", "s2"),
            (5, "", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r.asDict()
        for r in corpus_report(df).collect()
    }
    s1 = got["s1"]
    assert (s1["n_docs"], s1["n_dup_docs"], s1["total_words"]) == (3, 1, 8)
    assert s1["max_words"] == 3 and s1["p50_words"] == 3.0
    s2 = got["s2"]
    assert (s2["n_docs"], s2["n_dup_docs"], s2["total_words"]) == (2, 0, 4)
    assert s2["mean_words"] == 2.0 and s2["p50_words"] == 2.0


def test_bigram_packing_survives_int32_min(spark):
    """INT32_MIN followed by a negative token overflowed the unshifted
    t1*2^32+t2 packing (ANSI Spark raised, numpy wrapped — engines
    diverged); the shifted low word keeps every int32 pair in int64."""
    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        pmi_collocations,
        score_bigram_novelty,
    )

    lo = -2147483648
    df = spark.createDataFrame(
        [("a", [lo, -5, lo, -5, lo]), ("b", [lo, -5])],
        "doc_id string, tokens array<int>",
    )
    m = build_bigram_model(df, model_size=10)
    got = {r["bigram"]: r["freq"] for r in m.collect()}
    assert got[lo * 4294967296 + (-5 & 0xFFFFFFFF)] == 3
    sc = {
        r["doc_id"]: (r["n_bigrams"], r["n_unseen"])
        for r in score_bigram_novelty(df, m).collect()
    }
    assert sc["a"] == (4, 0) and sc["b"] == (1, 0)
    pmi = {
        (r["token"], r["neighbor"]): r["pair_freq"]
        for r in pmi_collocations(df, top_k=3, min_count=1).collect()
    }
    assert pmi[(lo, -5)] == 3 and pmi[(-5, lo)] == 2


def test_pick_dedup_representatives_longest_wins(spark):
    from otel_tail_sampler_spark.operators.dedup import (
        pick_dedup_representatives,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (9, 9), (10, 10)],
        "doc_id long, component_id long",
    )
    metrics = spark.createDataFrame(
        [(1, 5), (2, 11), (3, 11), (9, 2), (10, 7)],
        "doc_id long, n_words int",
    )
    got = {
        r["component_id"]: (r["keep_doc_id"], r["keep_n_words"], r["n_members"])
        for r in pick_dedup_representatives(comps, metrics).collect()
    }
    # longest wins; 11-word tie between docs 2 and 3 -> min id (2)
    assert got[1] == (2, 11, 3)
    assert got[9] == (9, 2, 1) and got[10] == (10, 7, 1)


def test_pick_dedup_representatives_nulls_rank_last(spark):
    """A NULL metric never beats a real one (SQL NULLS LAST parity with
    the oracle); an all-null cluster keeps its min id with NULL value."""
    from otel_tail_sampler_spark.operators.dedup import (
        pick_dedup_representatives,
    )

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (8, 7)], "doc_id long, component_id long"
    )
    metrics = spark.createDataFrame(
        [(1, None), (2, 3), (7, None), (8, None)],
        "doc_id long, n_words int",
    )
    got = {
        r["component_id"]: (r["keep_doc_id"], r["keep_n_words"])
        for r in pick_dedup_representatives(comps, metrics).collect()
    }
    assert got[1] == (2, 3)        # real metric beats null
    assert got[7] == (7, None)     # all-null cluster: min id, NULL value


def test_decontaminate_corpus_drops_contaminating_train_docs(spark):
    """The APPLY side of contamination: every train doc any eval is
    >=threshold contained in is dropped; clean train docs survive with
    all their columns."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "web"),
            (2, "lorem ipsum dolor sit amet consectetur", "web"),
            (3, "the quick brown fox jumps over the lazy dog and more", "book"),
        ],
        "doc_id long, text string, source string",
    )
    evals = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = D.decontaminate_corpus(train, evals, shingle_n=3, threshold=0.5)
    rows = {r["doc_id"]: r for r in out.collect()}
    # eval 100 fully contained in 1 and 3 -> both dropped; 2 survives intact
    assert set(rows) == {2}
    assert rows[2]["source"] == "web" and rows[2]["text"].startswith("lorem")
    # threshold above the overlap -> nothing dropped
    assert (
        D.decontaminate_corpus(
            train, evals, shingle_n=3, threshold=1.1
        ).count()
        == 3
    )


def test_apply_dedup_min_id_and_metric_elections(spark):
    """apply_dedup keeps one representative per pair-graph cluster plus
    all singletons: min-id default, longest-member with a metric."""
    docs = spark.createDataFrame(
        [(1, "a b c d e", 5), (2, "a b c d e f g h i j k", 11),
         (3, "a b c d e f g h i j z", 11), (9, "x y", 2), (10, "p q r", 3)],
        "doc_id long, text string, n_words int",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    by_min = {r["doc_id"] for r in D.apply_dedup(docs, pairs).collect()}
    assert by_min == {1, 9, 10}
    by_len = {
        r["doc_id"]
        for r in D.apply_dedup(docs, pairs, metric_col="n_words").collect()
    }
    # 11-word tie between 2 and 3 -> min id 2 kept
    assert by_len == {2, 9, 10}
    # original columns intact
    assert set(D.apply_dedup(docs, pairs).columns) == {
        "doc_id", "text", "n_words"
    }


def test_dedup_lines_first_wins_and_rebuild(spark):
    """C4-style line dedup: corpus-wide duplicate lines survive only at
    their first (doc_id, pos) occurrence; texts rebuild in order; a doc
    of only later-duplicate lines rebuilds to ''; unique lines and
    sub-min_count duplicates are untouched."""
    hdr = "all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr}\nalpha body one\n{hdr}"),  # intra-doc dup: pos 2 dropped
            (2, f"{hdr}\nbeta body two"),
            (3, hdr),                              # only a later dup -> ''
            (4, "unique gamma line"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in D.dedup_lines(docs).collect()}
    assert got[1]["text"] == f"{hdr}\nalpha body one"
    assert got[1]["n_lines_removed"] == 1
    assert got[2]["text"] == "beta body two"
    assert got[3]["text"] == "" and got[3]["n_lines_removed"] == 1
    assert got[4]["text"] == "unique gamma line"
    assert got[4]["n_lines_removed"] == 0
    # min_count above the occurrence count -> nothing removed
    untouched = {
        r["doc_id"]: r["n_lines_removed"]
        for r in D.dedup_lines(docs, min_count=5).collect()
    }
    assert untouched == {1: 0, 2: 0, 3: 0, 4: 0}


def test_source_overlap_matrix(spark):
    """Unordered-label canonicalization, diagonal = within-source, counts
    per label pair."""
    meta = spark.createDataFrame(
        [(1, "web"), (2, "book"), (3, "web"), (4, "web"), (5, "code")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["pair_count"]
        for r in D.source_overlap(pairs, meta).collect()
    }
    # (1,2) web-book and (2,3) book-web both canonicalize to (book, web)
    assert got == {("book", "web"): 2, ("web", "web"): 2}


def test_dedup_cluster_stats_hand_computed(spark):
    from otel_tail_sampler_spark.operators.dedup import dedup_cluster_stats

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, component_id long",
    )
    got = {
        r["cluster_size"]: r["n_clusters"]
        for r in dedup_cluster_stats(comps).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# vocab_coverage
# ---------------------------------------------------------------------------


def test_vocab_coverage_scalar_reference(spark):
    from collections import Counter

    from otel_tail_sampler_spark.operators.corpus import vocab_coverage

    rows = [
        ("a", [1, 1, 1, 2, 2, 3]),
        ("b", [2, 3, 4, 5]),
        ("c", [1, 6]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    got = {
        r["cutoff"]: (r["n_types"], r["covered"], r["total"], r["coverage"])
        for r in vocab_coverage(df, cutoffs=(1, 2, 3, 100)).collect()
    }
    cnt = Counter(t for _, toks in rows for t in toks)
    # ties (freq desc, token asc): 1(x4), 2(x3), 3(x2), then 4,5,6 by id
    order = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())
    for c in (1, 2, 3, 100):
        covered = sum(f for _, f in order[:c])
        assert got[c] == (
            len(cnt),
            covered,
            total,
            round(covered / total, 6),
        )
    # full-vocab cutoff reaches exactly 1.0
    assert got[100][3] == 1.0


def test_vocab_coverage_tie_break_deterministic(spark):
    from otel_tail_sampler_spark.operators.corpus import vocab_coverage

    # all types have freq 1: cutoff 2 must take the two SMALLEST ids
    df = spark.createDataFrame(
        [("a", [9, 3, 7, 1])], "doc_id string, tokens array<int>"
    )
    got = {
        r["cutoff"]: r["covered"]
        for r in vocab_coverage(df, cutoffs=(2,)).collect()
    }
    assert got[2] == 2


def test_tokenizer_fertility_scalar_reference(spark):
    import re

    from otel_tail_sampler_spark.operators.text import tokenizer_fertility

    rows = [
        ("a", "s1", "hello world, it's 42 tokens!"),
        ("b", "s1", "   "),
        ("c", "s2", "one-two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    got = {
        r["source"]: (
            r["n_docs"], r["sum_chars"], r["sum_ws"], r["sum_bpe"],
            r["chars_per_ws_fp"], r["chars_per_bpe_fp"],
        )
        for r in tokenizer_fertility(df).collect()
    }

    def ws(t):
        return len(t.split()) if t.strip() else 0

    def bp(t):
        return len(re.findall(r"[0-9A-Za-z_]+|[^0-9A-Za-z_\s]", t))

    for src in ("s1", "s2"):
        docs = [(t) for _, s, t in rows if s == src]
        nc = sum(len(t) for t in docs)
        w = sum(ws(t) for t in docs)
        b = sum(bp(t) for t in docs)
        assert got[src] == (
            len(docs), nc, w, b,
            (1 << 20) * nc // max(w, 1),
            (1 << 20) * nc // max(b, 1),
        )


def test_vocab_coverage_empty_corpus_emits_no_rows(spark):
    # ADVICE r5: an empty corpus must return ZERO rows (matching a SQL
    # CROSS JOIN over the empty frequency table), not one NULL-total /
    # NULL-coverage row per cutoff.
    from otel_tail_sampler_spark.operators.corpus import vocab_coverage

    empty = spark.createDataFrame([], "doc_id string, tokens array<int>")
    assert vocab_coverage(empty, cutoffs=(2, 8)).collect() == []
    # empty ARRAYS (rows exist, no tokens) degenerate the same way
    no_toks = spark.createDataFrame(
        [("a", []), ("b", [])], "doc_id string, tokens array<int>"
    )
    assert vocab_coverage(no_toks, cutoffs=(2,)).collect() == []


# --- incremental (cross-corpus) dedup — r6 ---------------------------------


def test_reference_dup_pairs_exact_and_apply(spark, docs):
    base = docs.limit(12).cache()
    # ref = base plus TWO extra copies of base[0]'s text (n_ref_copies=3)
    extra = base.limit(1).withColumn("doc_id", F.col("doc_id") + 7000)
    extra2 = base.limit(1).withColumn("doc_id", F.col("doc_id") + 8000)
    ref = base.unionByName(extra).unionByName(extra2)
    # new = 4 docs duplicating ref texts (shifted ids) + 2 fresh docs
    dup_new = base.limit(4).withColumn("doc_id", F.col("doc_id") + 5000)
    fresh = spark.createDataFrame(
        [(9001, "totally novel text one x", "en", "svc-99", 24),
         (9002, "another unseen document y", "en", "svc-99", 25)],
        base.schema.simpleString().replace("struct<", "").rstrip(">")
        .replace(":", " "),
    )
    new = dup_new.unionByName(fresh)
    pairs = {
        r["id_new"]: (r["id_ref"], r["n_ref_copies"])
        for r in D.reference_dup_pairs(new, ref, method="exact").collect()
    }
    base_ids = [r["doc_id"] for r in base.limit(4).collect()]
    # every planted dup matches its ORIGINAL (min) ref id
    for bid in base_ids:
        assert pairs[bid + 5000][0] == bid
    assert pairs[base_ids[0] + 5000][1] == 3  # the tripled text
    assert len(pairs) == 4  # fresh docs match nothing


def test_reference_dup_pairs_minhash_cross_only(spark, docs):
    # near-dups planted ACROSS the split only; pairs must be new x ref —
    # never new x new or ref x ref (ref contains two identical texts
    # that must NOT pair with each other)
    pdf = docs.limit(20).toPandas()
    ref = pdf.iloc[:10].copy()
    twin = ref.iloc[:1].copy()
    twin["doc_id"] += 7000  # ref-internal exact dup
    ref = pd.concat([ref, twin])
    near = ref.iloc[:3].copy()
    near["doc_id"] += 5000
    near["text"] = near["text"].str.replace(" the ", " zzz ", n=1, regex=False)
    new = pd.concat([near, pdf.iloc[10:]])
    new_df = spark.createDataFrame(new)
    ref_df = spark.createDataFrame(ref)
    out = D.reference_dup_pairs(
        new_df, ref_df, method="minhash", num_hashes=12, bands=6
    ).collect()
    new_ids = set(new["doc_id"])
    ref_ids = set(ref["doc_id"])
    for r in out:
        assert r["id_new"] in new_ids and r["id_ref"] in ref_ids
        assert 0 <= r["n_agree"] <= 12
        assert 1 <= r["n_bands_shared"] <= 6
    planted = {int(i) for i in near["doc_id"]}
    got_new = {r["id_new"] for r in out}
    assert planted <= got_new
    # verification bar: planted near-dups agree on most components, so
    # an n_agree threshold keeps them and drops accidental collisions
    assert planted <= {r["id_new"] for r in out if r["n_agree"] >= 8}


def test_vocab_drift_scalar_reference(spark):
    from collections import Counter

    from otel_tail_sampler_spark.operators.corpus import vocab_drift

    a_rows = [("a1", [1, 1, 2, 3]), ("a2", [1, 4])]
    b_rows = [("b1", [2, 2, 2, 5]), ("b2", [2])]
    a = spark.createDataFrame(a_rows, "doc_id string, tokens array<int>")
    b = spark.createDataFrame(b_rows, "doc_id string, tokens array<int>")
    got = {
        r["token"]: (
            r["freq_a"], r["freq_b"], r["rate_a_fp"], r["rate_b_fp"],
            r["drift_fp"],
        )
        for r in vocab_drift(a, b, top=100).collect()
    }
    ca = Counter(t for _, ts in a_rows for t in ts)
    cb = Counter(t for _, ts in b_rows for t in ts)
    ta, tb, s = sum(ca.values()), sum(cb.values()), 1 << 20
    for t in set(ca) | set(cb):
        ra = ca.get(t, 0) * s // ta
        rb = cb.get(t, 0) * s // tb
        assert got[t] == (ca.get(t, 0), cb.get(t, 0), ra, rb, ra - rb), t
    # ordering: token 2 has the largest |drift| (4/5 of b vs 1/6 of a)
    first = vocab_drift(a, b, top=1).collect()[0]
    assert first["token"] == 2


def test_vocab_drift_empty_side_raises(spark):
    import pytest as _pytest

    from otel_tail_sampler_spark.operators.corpus import vocab_drift

    a = spark.createDataFrame([("x", [1])], "doc_id string, tokens array<int>")
    e = spark.createDataFrame([], "doc_id string, tokens array<int>")
    with _pytest.raises(ValueError, match="no tokens"):
        vocab_drift(a, e)
