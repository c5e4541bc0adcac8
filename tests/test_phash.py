"""Perceptual-hash near-dup tier: hand-computed bit values, kernel vs
independent scalar reference, pigeonhole exactness of the banded pair
index, planted-dup components, and the exact-dup-flood scale shape."""

import numpy as np
import pytest

from otel_tail_sampler_spark.operators.multimodal import (
    _gen_neardup_arrays,
    _phash_np,
    _phash_scalar,
    encode_ppm,
    media_phash_neardup,
    phash_images,
    phash_pairs,
    synthetic_media_neardup,
    MEDIA_SCHEMA,
)


def test_phash_hand_computed_values():
    # constant image: no strict inequality fires anywhere -> both 0
    const = np.full((8, 9, 3), 7, np.uint8)
    assert _phash_np(const) == (0, 0)
    assert _phash_scalar(const) == (0, 0)
    # strictly increasing columns on a 9x8 canvas (identity resize for
    # the dhash grid): every gray[r,c+1] > gray[r,c] -> all 64 dhash
    # bits set -> signed int64 -1
    grad = np.zeros((8, 9, 3), np.uint8)
    for c in range(9):
        grad[:, c, :] = 10 * c
    assert _phash_np(grad)[0] == -1
    assert _phash_scalar(grad)[0] == -1
    # 8x8 left-dark/right-bright: ahash bits exactly at columns 4..7 of
    # every row -> 0xF0 per row byte -> 0xF0F0F0F0F0F0F0F0 wrapped
    half = np.zeros((8, 8, 3), np.uint8)
    half[:, 4:, :] = 255
    want = 0xF0F0F0F0F0F0F0F0 - (1 << 64)
    assert _phash_np(half)[1] == want
    assert _phash_scalar(half)[1] == want


def test_phash_kernel_matches_scalar_reference():
    # the vectorized kernel vs the per-pixel scalar over every planted
    # array (mixed sizes, near-dup perturbations)
    for _mid, arr in _gen_neardup_arrays(24, seed=7):
        assert _phash_np(arr) == _phash_scalar(arr)


def test_phash_images_decode_matches_preencode_truth(spark):
    arrays = _gen_neardup_arrays(12, seed=7)
    media = synthetic_media_neardup(spark, n_base=12, seed=7)
    got = {
        r["media_id"]: (r["phash_d"], r["phash_a"])
        for r in phash_images(media).collect()
    }
    want = {mid: _phash_scalar(arr) for mid, arr in arrays}
    assert got == want


def test_phash_pairs_banded_equals_brute_force(spark):
    # pigeonhole exactness: tau < n_bands must find EVERY pair within
    # tau, and nothing else
    arrays = _gen_neardup_arrays(30, seed=7)
    hashes = sorted({_phash_scalar(arr)[0] for _mid, arr in arrays})
    brute = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                brute.add((hashes[i], hashes[j], d))
    media = synthetic_media_neardup(spark, n_base=30, seed=7)
    got = {
        (r["hash_a"], r["hash_b"], r["hamming"])
        for r in phash_pairs(phash_images(media), tau=3, n_bands=4).collect()
    }
    assert got == brute
    assert brute  # the planted dups must actually exercise the index


def test_phash_pairs_tau_guard():
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_pairs(None, tau=4, n_bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        phash_pairs(None, tau=3, n_bands=5)


def test_media_phash_neardup_components_match_union_find(spark):
    arrays = _gen_neardup_arrays(30, seed=7)
    hs = {mid: _phash_scalar(arr)[0] for mid, arr in arrays}
    ids = sorted(hs)
    parent = {m: m for m in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hs[ids[i]] ^ hs[ids[j]]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                ra, rb = find(ids[i]), find(ids[j])
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {m: find(m) for m in ids}
    media = synthetic_media_neardup(spark, n_base=30, seed=7)
    got = {
        r["media_id"]: r["component_id"]
        for r in media_phash_neardup(media, tau=3, n_bands=4).collect()
    }
    assert got == want
    # the planted "-dup" copies must actually cluster with their base
    n_merged = sum(1 for m in ids if m.endswith("-dup") and want[m] != m)
    assert n_merged > 0


def test_exact_dup_flood_stays_distinct_hash_sized(spark):
    # 100 identical images + 1 distinct: the pair core sees 2 distinct
    # hash values, so it emits at most 1 pair row, while the component
    # view still glues all 100 copies together
    base = np.arange(8 * 9 * 3, dtype=np.uint8).reshape(8, 9, 3)
    other = np.full((8, 9, 3), 200, np.uint8)
    rows = [
        (f"f-{i:03d}", "image", bytearray(encode_ppm(base)),
         (9, 8, 1, None, "ppm"))
        for i in range(100)
    ] + [("z-solo", "image", bytearray(encode_ppm(other)),
         (9, 8, 1, None, "ppm"))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    assert phash_pairs(phash_images(media), tau=3, n_bands=4).count() <= 1
    comp = {
        r["media_id"]: r["component_id"]
        for r in media_phash_neardup(media, tau=3, n_bands=4).collect()
    }
    assert {comp[f"f-{i:03d}"] for i in range(100)} == {"f-000"}


def test_audio_fp_kernel_matches_scalar_reference():
    from otel_tail_sampler_spark.operators.multimodal import (
        _audio_fp_np,
        _audio_fp_scalar,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    for n in (0, 1, 64, 65, 66, 130, 1000):
        s = rng.integers(-(2**15), 2**15, size=n).astype(np.int16)
        assert _audio_fp_np(s) == _audio_fp_scalar(s), n
    # INT16_MIN magnitudes must not wrap
    s = np.full(130, -(2**15), np.int16)
    assert _audio_fp_np(s) == _audio_fp_scalar(s) == 0  # equal energies


def test_av_fingerprints_match_preencode_truth(spark):
    from otel_tail_sampler_spark.operators.multimodal import (
        _audio_fp_scalar,
        _gen_one,
        fingerprint_audio,
        phash_video_frames,
        synthetic_media,
        _phash_scalar,
    )

    media = synthetic_media(spark, n=12, seed=42)
    got_a = {
        r["media_id"]: r["afp"] for r in fingerprint_audio(media).collect()
    }
    got_v = {
        (r["media_id"], r["frame_idx"]): (r["phash_d"], r["phash_a"])
        for r in phash_video_frames(media).collect()
    }
    want_a, want_v = {}, {}
    for i in range(12):
        (mid, kind, _p, _m), _t, raw = _gen_one(i, 42)
        if kind == "audio":
            want_a[mid] = _audio_fp_scalar(raw)
        elif kind == "video":
            for fi, fr in enumerate(raw):
                want_v[(mid, fi)] = _phash_scalar(fr)
    assert got_a == want_a and want_a
    assert got_v == want_v and want_v


def test_audio_neardup_composes_with_phash_pairs(spark):
    # a clip and a copy with ONE window's energy boosted: the banded
    # index (over afp as phash_d) must pair them at small hamming
    from otel_tail_sampler_spark.operators.multimodal import (
        encode_wav,
        fingerprint_audio,
        phash_pairs,
        MEDIA_SCHEMA,
    )

    rng = np.random.Generator(np.random.PCG64(3))
    base = rng.integers(-1000, 1000, size=650).astype(np.int16)
    dup = base.copy()
    dup[10 * 10 : 11 * 10] = 30000  # window 10 saturates: flips bits 9+10
    rows = [
        ("a-base", "audio", bytearray(encode_wav(base, 16000)),
         (None, None, None, 16000, "pcm16")),
        ("a-dup", "audio", bytearray(encode_wav(dup, 16000)),
         (None, None, None, 16000, "pcm16")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fps = fingerprint_audio(media)
    fps = fps.withColumnRenamed("afp", "phash_d")
    pairs = phash_pairs(fps, tau=3, n_bands=4).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] <= 3
