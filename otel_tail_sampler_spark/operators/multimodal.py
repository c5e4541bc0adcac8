"""Multimodal columns: opaque binary payloads + typed metadata + REAL kernels.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct; decode, perceptual hashing and audio/video fingerprints
run as Arrow-batched pandas stages over ``mapInPandas``.

The kernels are pure-numpy codecs that need no external libs — PPM P6
images (netpbm spec), RIFF/WAVE PCM16 mono audio, and a minimal
length-prefixed video container of PPM frames (``VID0`` magic + u32 frame
count + per-frame u32 length + PPM bytes). Decode inverts encode
bit-exactly, so decoded stats are checkable against a ground-truth table
computed BEFORE encoding (the property oracle: the decode stage must
invert the encode stage).

Scale notes: payload columns are wide, so every transform here keeps the
binary column OUT of shuffles (mapInPandas is narrow); metadata-only plans
should select struct fields so Parquet column pruning drops the payload read
entirely. Batches arrive as pandas DataFrames sized by
spark.sql.execution.arrow.maxRecordsPerBatch — kernels are per-row loops in
numpy over those batches, never per-row Python UDF calls.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.pairs import band_rows, self_key_pairs
from otel_tail_sampler_spark.functions.tables import local_table

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int, codec:string>"
)

# flat, integer-exact stats of the DECODED payload (oracle-checkable against
# the pre-encode ground truth; every value fits exactly in its type)
STATS_DDL = (
    "media_id string, kind string, width int, height int, n_frames int, "
    "sample_rate int, n_samples long, px_sum long, px_min int, px_max int"
)


# --- pure-numpy codecs (public formats: netpbm PPM, RIFF/WAVE PCM) -----------


def encode_ppm(arr: np.ndarray) -> bytes:
    """P6 binary PPM: ``P6\\n{w} {h}\\n255\\n`` + raw RGB rows."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_ppm(b: bytes) -> np.ndarray:
    """Decode P6 (handles comment lines per the netpbm spec)."""
    if not b.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment to end-of-line
            pos = b.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(b[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    n = w * h * 3
    return np.frombuffer(b, dtype=np.uint8, count=n, offset=pos).reshape(h, w, 3)


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Minimal RIFF/WAVE, PCM16 mono, little-endian."""
    assert samples.dtype == np.int16
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """-> (int16 samples, sample_rate). Walks RIFF chunks (fmt then data)."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # RIFF chunks are 2-byte aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


def encode_video(frames: list[np.ndarray]) -> bytes:
    """``VID0`` + u32 n_frames + per-frame (u32 length + PPM bytes)."""
    out = [b"VID0", struct.pack("<I", len(frames))]
    for fr in frames:
        p = encode_ppm(fr)
        out.append(struct.pack("<I", len(p)))
        out.append(p)
    return b"".join(out)


def decode_video(b: bytes) -> list[np.ndarray]:
    if b[:4] != b"VID0":
        raise ValueError("not a VID0 container")
    (n,) = struct.unpack("<I", b[4:8])
    pos, frames = 8, []
    for _ in range(n):
        (size,) = struct.unpack("<I", b[pos : pos + 4])
        frames.append(decode_ppm(b[pos + 4 : pos + 4 + size]))
        pos += 4 + size
    return frames


def _decoded_stats(kind: str, payload: bytes) -> dict:
    """Integer-exact stats of the decoded payload (the oracle contract)."""
    if kind == "image":
        arr = decode_ppm(payload)
        return dict(
            width=arr.shape[1], height=arr.shape[0], n_frames=1, sample_rate=None,
            n_samples=int(arr.size), px_sum=int(arr.sum(dtype=np.int64)),
            px_min=int(arr.min()), px_max=int(arr.max()),
        )
    if kind == "audio":
        samples, rate = decode_wav(payload)
        return dict(
            width=None, height=None, n_frames=None, sample_rate=rate,
            n_samples=int(samples.size), px_sum=int(samples.sum(dtype=np.int64)),
            px_min=int(samples.min()), px_max=int(samples.max()),
        )
    if kind == "video":
        frames = decode_video(payload)
        stack = np.stack(frames)
        return dict(
            width=stack.shape[2], height=stack.shape[1], n_frames=len(frames),
            sample_rate=None, n_samples=int(stack.size),
            px_sum=int(stack.sum(dtype=np.int64)),
            px_min=int(stack.min()), px_max=int(stack.max()),
        )
    raise ValueError(f"unknown kind {kind}")


# --- synthetic media ----------------------------------------------------------


def _gen_one(i: int, seed: int) -> tuple:
    """Deterministic (media_row, truth_row, raw) triple. Truth stats are
    computed on the RAW arrays before encoding — the decode stage must
    invert encode to reproduce them; ``raw`` carries those arrays so the
    fingerprint truth writers can scalar-hash them pre-encode too."""
    rng = np.random.Generator(np.random.PCG64((seed << 20) + i))
    kind = ["image", "audio", "video"][i % 3]
    mid = f"m-{i:04d}"
    if kind == "image":
        w, h = 32 + 8 * (i % 4), 24 + 8 * (i % 3)
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_ppm(arr)
        meta = (w, h, 1, None, "ppm")
        truth = (mid, kind, w, h, 1, None, int(arr.size),
                 int(arr.sum(dtype=np.int64)), int(arr.min()), int(arr.max()))
        raw = arr
    elif kind == "audio":
        rate, n = 16000, 1000 + 100 * (i % 7)
        samples = rng.integers(-(2**15), 2**15, size=n).astype(np.int16)
        payload = encode_wav(samples, rate)
        meta = (None, None, None, rate, "pcm16")
        truth = (mid, kind, None, None, None, rate, n,
                 int(samples.sum(dtype=np.int64)),
                 int(samples.min()), int(samples.max()))
        raw = samples
    else:
        w, h, nf = 16, 12, 4 + i % 5
        frames = [
            rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            for _ in range(nf)
        ]
        payload = encode_video(frames)
        stack = np.stack(frames)
        meta = (w, h, nf, None, "vid0-ppm")
        truth = (mid, kind, w, h, nf, None, int(stack.size),
                 int(stack.sum(dtype=np.int64)),
                 int(stack.min()), int(stack.max()))
        raw = frames
    return (mid, kind, bytearray(payload), meta), truth, raw


def synthetic_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table of valid PPM/WAV/VID0 payloads."""
    rows = [_gen_one(i, seed)[0] for i in range(n)]
    return local_table(spark, rows, MEDIA_SCHEMA)


TRUTH_COLUMNS = [
    "media_id", "kind", "width", "height", "n_frames", "sample_rate",
    "n_samples", "px_sum", "px_min", "px_max",
]


def ensure_media_truth(n: int = 64, seed: int = 42) -> str:
    """Write (once) the pre-encode ground-truth stats parquet; returns path.
    DuckDB reads this as the multimodal oracle."""
    import os

    from otel_tail_sampler_spark.sources.generator import DATA_ROOT

    path = os.path.join(DATA_ROOT, f"media_truth_n{n}_s{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(DATA_ROOT, exist_ok=True)
        truths = [_gen_one(i, seed)[1] for i in range(n)]
        pdf = pd.DataFrame(truths, columns=TRUTH_COLUMNS)
        for c in ("width", "height", "n_frames", "sample_rate", "px_min", "px_max"):
            pdf[c] = pdf[c].astype("Int32")
        for c in ("n_samples", "px_sum"):
            pdf[c] = pdf[c].astype("int64")
        tmp = path + ".tmp"
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


# --- kernels over mapInPandas ---------------------------------------------------


def media_stats(media: DataFrame) -> DataFrame:
    """REAL decode kernel: payload -> integer-exact stats (STATS_DDL).
    Arrow-batched; payload bytes never shuffle (narrow stage)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {"media_id": m, "kind": k, **_decoded_stats(k, bytes(p))}
                for m, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"])
            ]
            if rows:
                yield pd.DataFrame(rows)[TRUTH_COLUMNS]

    return media.mapInPandas(fn, STATS_DDL)


def _resize_nearest(arr: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample (pure numpy, matches the standard
    floor((i+0.5)*src/dst) pixel-center mapping)."""
    h, w = arr.shape[:2]
    yi = np.minimum(((np.arange(height) + 0.5) * h / height).astype(int), h - 1)
    xi = np.minimum(((np.arange(width) + 0.5) * w / width).astype(int), w - 1)
    return arr[yi][:, xi]


# --- perceptual-hash near-dup (the image counterpart of MinHash) -------------
#
# dHash / aHash over the REAL PPM decode path, packed into one signed
# int64 each, then banded Hamming-bucket candidate pairs in the style of
# Manku et al., "Detecting Near-Duplicates for Web Crawling" (WWW 2007):
# split the 64-bit fingerprint into ``n_bands`` equal bit-blocks; two
# fingerprints within Hamming distance ``tau`` < ``n_bands`` must agree
# on at least one whole block (pigeonhole), so the block-equality
# self-join finds EVERY such pair — banding here is an exact index, not
# an approximation. All integer bit-ops, shared bit-for-bit by Spark,
# numpy, and DuckDB (arithmetic >> is masked back; packing wraps into
# two's-complement int64 on every engine).

PHASH_DDL = "media_id string, phash_d long, phash_a long"


def _signed64(v: int) -> int:
    """Two's-complement wrap of a 64-bit unsigned value into int64 — the
    representation Spark/DuckDB BIGINT bit-ops operate on."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _phash_np(arr: np.ndarray) -> tuple[int, int]:
    """Vectorized (dhash, ahash) of one decoded RGB image.

    Grayscale is the EXACT integer channel sum r+g+b (0..765) — no
    luma-weight rounding to diverge between engines. dHash: resize to
    9x8 (nearest-neighbor pixel-center mapping, ``_resize_nearest``),
    bit r*8+c set iff gray[r, c+1] > gray[r, c]. aHash: resize to 8x8,
    bit set iff 64 * gray > sum(gray) (strict — division-free). Bit i
    lands at int64 position i, LSB first."""
    g9 = _resize_nearest(arr, 9, 8).astype(np.int64).sum(axis=2)
    bits_d = (g9[:, 1:] > g9[:, :-1]).ravel()
    g8 = _resize_nearest(arr, 8, 8).astype(np.int64).sum(axis=2)
    bits_a = g8.ravel() * 64 > g8.sum()

    def pack(bits: np.ndarray) -> int:
        shifted = bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)
        return _signed64(int(np.bitwise_or.reduce(shifted)))

    return pack(bits_d), pack(bits_a)


def _phash_scalar(arr: np.ndarray) -> tuple[int, int]:
    """Independent per-pixel scalar reference of ``_phash_np`` (loops, no
    numpy reductions) — the truth generator uses THIS formulation so a
    vectorization bug in the kernel cannot hash-match its own oracle
    (the symmetric-bug rule)."""
    h, w, _ = arr.shape

    def gray_at(r: int, c: int, out_h: int, out_w: int) -> int:
        yi = min(int((r + 0.5) * h / out_h), h - 1)
        xi = min(int((c + 0.5) * w / out_w), w - 1)
        px = arr[yi][xi]
        return int(px[0]) + int(px[1]) + int(px[2])

    d = 0
    for r in range(8):
        for c in range(8):
            if gray_at(r, c + 1, 8, 9) > gray_at(r, c, 8, 9):
                d |= 1 << (r * 8 + c)
    g = [[gray_at(r, c, 8, 8) for c in range(8)] for r in range(8)]
    total = sum(sum(row) for row in g)
    a = 0
    for r in range(8):
        for c in range(8):
            if g[r][c] * 64 > total:
                a |= 1 << (r * 8 + c)
    return _signed64(d), _signed64(a)


def phash_images(media: DataFrame) -> DataFrame:
    """REAL kernel: decode PPM images, emit both perceptual hashes ->
    (media_id, phash_d long, phash_a long). Non-image rows drop (video
    frames are hashed by ``phash_video_frames``).
    Arrow-batched; payloads never shuffle (narrow stage)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            img = pdf[pdf["kind"] == "image"]
            if len(img) == 0:
                continue
            hashes = [_phash_np(decode_ppm(bytes(p))) for p in img["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": img["media_id"],
                    "phash_d": [d for d, _ in hashes],
                    "phash_a": [a for _, a in hashes],
                }
            )

    return media.mapInPandas(fn, PHASH_DDL)


def phash_pairs(hashes: DataFrame, tau: int = 3, n_bands: int = 4) -> DataFrame:
    """Near-duplicate pairs of DISTINCT ``phash_d`` values within Hamming
    distance ``tau``: -> (hash_a, hash_b, hamming int), hash_a < hash_b.

    EXACT (recall 1) because ``tau < n_bands`` is enforced: a pair
    differing in <= tau bits leaves >= one of the ``n_bands`` bit-blocks
    untouched (pigeonhole), and that block's equality key collides them.
    Raises for tau >= n_bands rather than silently dropping pairs.

    Scale shape: the self-join runs over DISTINCT hash values, not
    media rows — an exact-duplicate flood of any size contributes ONE
    row here (compose with the hash-groupBy in ``media_phash_neardup``
    for id-level output), so the classic degenerate case costs nothing.
    Only (band, key, hash) triples shuffle; candidate fan-out is
    controlled by 2^(64/n_bands) buckets per band. The self-join
    re-evaluates the ``hashes`` lineage on both sides — when the hash
    column comes straight off an expensive decode kernel, persist (or
    materialize) the slim hash table first; the verify itself rides the
    join condition (Catalyst pushes ``bit_count <= tau`` into the
    SortMergeJoin, see PLANS.md)."""
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    if not 0 <= tau < n_bands:
        raise ValueError(
            f"tau={tau} >= n_bands={n_bands} loses the pigeonhole "
            "exactness guarantee — raise n_bands (bands of 64/n_bands "
            "bits) so tau < n_bands"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    hv = hashes.select(F.col("phash_d").alias("_h")).distinct()
    keys = [
        F.shiftright(F.col("_h"), b * width).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    cand = self_key_pairs(band_rows(hv, keys), ["band", "key"], "_h", None).select(
        F.col("id_a").alias("hash_a"), F.col("id_b").alias("hash_b")
    )
    ham = F.bit_count(
        F.col("hash_a").bitwiseXOR(F.col("hash_b"))
    ).cast("int")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= tau)
    )


def media_phash_neardup(
    media: DataFrame, tau: int = 3, n_bands: int = 4
) -> DataFrame:
    """Id-level near-duplicate components over the perceptual hash:
    -> (media_id, component_id) where ``component_id`` is the smallest
    media_id in the connected near-dup group (the representative to
    keep; composes with ``apply_dedup`` exactly like the text dedups).

    Edges never materialize per-pair over duplicates: identical-hash
    groups contribute one edge per member to the group's min id (the
    exact-dedup shape), and cross-hash edges ride ``phash_pairs``'s
    distinct-hash pairs joined back through each hash's min-id
    representative — so an n-member exact-dup flood costs n edge rows,
    not n^2, and component connectivity is unchanged (every member is
    glued to its representative)."""
    from otel_tail_sampler_spark.operators.dedup import dedup_components

    # the slim hash table feeds THREE subtrees (rep election, the band
    # self-join's two sides); an eager localCheckpoint decodes each
    # payload exactly once instead of re-running the kernel per subtree
    # (the phash_pairs docstring's persist lever, applied here because
    # this composition owns the lineage)
    hashes = phash_images(media).localCheckpoint(eager=True)
    rep = hashes.groupBy("phash_d").agg(F.min("media_id").alias("_rep"))
    within = hashes.join(rep, "phash_d").select(
        F.col("media_id").alias("id_a"), F.col("_rep").alias("id_b")
    )
    hp = phash_pairs(hashes, tau=tau, n_bands=n_bands)
    ra = rep.select(
        F.col("phash_d").alias("hash_a"), F.col("_rep").alias("id_a")
    )
    rb = rep.select(
        F.col("phash_d").alias("hash_b"), F.col("_rep").alias("id_b")
    )
    cross = hp.join(ra, "hash_a").join(rb, "hash_b").select("id_a", "id_b")
    return dedup_components(within.unionByName(cross), id_col="media_id")


def _gen_neardup_arrays(n_base: int, seed: int) -> list:
    """Deterministic raw image arrays WITH PLANTED NEAR-DUPLICATES: every
    third base image gets a copy — an EXACT copy for every sixth, else a
    copy with ONE dhash-grid-sampled pixel inverted. Nearest-neighbor
    resize reads exactly one source pixel per grid cell, so inverting a
    sampled pixel flips at most the two dhash comparisons that touch its
    cell: planted pairs land at Hamming distance 0-2, inside any sane
    tau. Shared by the media generator (encodes) and the truth generator
    (scalar-hashes pre-encode) — the ARRAYS are the input contract; the
    two hash computations stay independent."""
    out = []
    for i in range(n_base):
        rng = np.random.Generator(np.random.PCG64((seed << 21) + i))
        w, h = 40 + 8 * (i % 3), 32 + 8 * (i % 2)
        arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out.append((f"p-{i:04d}", arr))
        if i % 3 == 0:
            dup = arr.copy()
            if i % 6 != 0:
                r = int(rng.integers(0, 8))
                c = int(rng.integers(0, 9))
                yi = min(int((r + 0.5) * h / 8), h - 1)
                xi = min(int((c + 0.5) * w / 9), w - 1)
                dup[yi, xi] = 255 - dup[yi, xi]
            out.append((f"p-{i:04d}-dup", dup))
    return out


def synthetic_media_neardup(
    spark: SparkSession, n_base: int = 48, seed: int = 7
) -> DataFrame:
    """Images-only media table (MEDIA_SCHEMA) over the planted near-dup
    arrays, PPM-encoded — the perceptual-hash test corpus."""
    rows = [
        (
            mid,
            "image",
            bytearray(encode_ppm(arr)),
            (arr.shape[1], arr.shape[0], 1, None, "ppm"),
        )
        for mid, arr in _gen_neardup_arrays(n_base, seed)
    ]
    return local_table(spark, rows, MEDIA_SCHEMA)


def ensure_media_phash_truth(n_base: int = 48, seed: int = 7) -> str:
    """Write (once) the pre-encode perceptual-hash ground truth parquet
    -> path. Hashes come from the SCALAR reference over the raw arrays
    (before any PPM encode), so the DuckDB oracle checks the whole
    Spark path — decode, resize, grayscale, bit-pack — against an
    independent formulation."""
    import os

    from otel_tail_sampler_spark.sources.generator import DATA_ROOT

    path = os.path.join(
        DATA_ROOT, f"media_phash_truth_n{n_base}_s{seed}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(DATA_ROOT, exist_ok=True)
        rows = []
        for mid, arr in _gen_neardup_arrays(n_base, seed):
            d, a = _phash_scalar(arr)
            rows.append((mid, d, a))
        pdf = pd.DataFrame(rows, columns=["media_id", "phash_d", "phash_a"])
        pdf["phash_d"] = pdf["phash_d"].astype("int64")
        pdf["phash_a"] = pdf["phash_a"].astype("int64")
        tmp = path + ".tmp"
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


# --- audio / video fingerprints (compose with phash_pairs' banded index) ------

AUDIO_FP_DDL = "media_id string, afp long"
VIDEO_PHASH_DDL = "media_id string, frame_idx int, phash_d long, phash_a long"


def _audio_windows(n: int, k: int = 65):
    """Integer window bounds: window w covers samples
    [w*n // k, (w+1)*n // k) — exact, gap-free, engine-free arithmetic."""
    return [(w * n // k, (w + 1) * n // k) for w in range(k)]


def _audio_fp_np(samples: np.ndarray) -> int:
    """Vectorized temporal energy fingerprint of PCM16 mono audio: 65
    equal sample windows, exact int64 energy sum(|x|) per window, bit i
    set iff energy[i+1] > energy[i] (the dHash idea on the time axis —
    robust to gain-preserving edits, cheap, integer-exact)."""
    n = int(samples.size)
    bounds = np.array([w * n // 65 for w in range(66)], np.int64)
    # zero sentinel keeps every start index in range AND absorbs the
    # final reduceat segment's run-to-end (adds 0 to window 64)
    mags = np.append(np.abs(samples.astype(np.int64)), 0)
    e = np.add.reduceat(mags, bounds[:-1])
    # reduceat quirk: an empty window [b, b) returns mags[b] (and every
    # window is empty when n < 65) — force empties to 0 via the widths
    widths = bounds[1:] - bounds[:-1]
    e = np.where(widths > 0, e, 0)
    bits = (e[1:] > e[:-1]).astype(np.uint64)
    return _signed64(int(np.bitwise_or.reduce(bits << np.arange(64, dtype=np.uint64))))


def _audio_fp_scalar(samples) -> int:
    """Independent per-sample scalar reference of ``_audio_fp_np``."""
    n = len(samples)
    e = []
    for lo, hi in _audio_windows(n, 65):
        e.append(sum(abs(int(s)) for s in samples[lo:hi]))
    v = 0
    for i in range(64):
        if e[i + 1] > e[i]:
            v |= 1 << i
    return _signed64(v)


def fingerprint_audio(media: DataFrame) -> DataFrame:
    """REAL kernel: decode WAV, emit the 64-bit temporal energy
    fingerprint -> (media_id, afp long). Non-audio rows drop. Near-dup
    audio = ``phash_pairs`` over ``afp`` renamed to ``phash_d`` — the
    banded Hamming index is fingerprint-agnostic."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            aud = pdf[pdf["kind"] == "audio"]
            if len(aud) == 0:
                continue
            yield pd.DataFrame(
                {
                    "media_id": aud["media_id"],
                    "afp": [
                        _audio_fp_np(decode_wav(bytes(p))[0])
                        for p in aud["payload"]
                    ],
                }
            )

    return media.mapInPandas(fn, AUDIO_FP_DDL)


def phash_video_frames(media: DataFrame) -> DataFrame:
    """REAL kernel: decode the VID0 container, perceptual-hash every
    frame -> (media_id, frame_idx, phash_d, phash_a).
    Near-dup videos are frame-hash joins (any-frame or all-frame match,
    caller's policy) through the same ``phash_pairs`` index; payloads
    fan out to per-frame hashes inside the task and never shuffle."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vid = pdf[pdf["kind"] == "video"]
            ids, idxs, ds, as_ = [], [], [], []
            for mid, payload in zip(vid["media_id"], vid["payload"]):
                frames = decode_video(bytes(payload))
                for fi in range(len(frames)):
                    d, a = _phash_np(frames[fi])
                    ids.append(mid)
                    idxs.append(fi)
                    ds.append(d)
                    as_.append(a)
            if ids:
                yield pd.DataFrame(
                    {
                        "media_id": ids,
                        "frame_idx": idxs,
                        "phash_d": ds,
                        "phash_a": as_,
                    }
                )

    return media.mapInPandas(fn, VIDEO_PHASH_DDL)


def ensure_media_fp_truth(n: int = 64, seed: int = 42) -> tuple[str, str]:
    """Write (once) the PRE-ENCODE fingerprint ground truth for the
    standard synthetic media table -> (audio_path, video_path):
    audio (media_id, afp) via the scalar reference over the raw int16
    samples; video (media_id, frame_idx, phash_d, phash_a) via the
    scalar perceptual-hash reference over the raw frame arrays."""
    import os

    from otel_tail_sampler_spark.sources.generator import DATA_ROOT

    apath = os.path.join(DATA_ROOT, f"media_afp_truth_n{n}_s{seed}.parquet")
    vpath = os.path.join(
        DATA_ROOT, f"media_vframe_truth_n{n}_s{seed}.parquet"
    )
    if not (os.path.exists(apath) and os.path.exists(vpath)):
        os.makedirs(DATA_ROOT, exist_ok=True)
        arows, vrows = [], []
        for i in range(n):
            (mid, kind, _payload, _meta), _truth, raw = _gen_one(i, seed)
            if kind == "audio":
                arows.append((mid, _audio_fp_scalar(raw)))
            elif kind == "video":
                for fi, fr in enumerate(raw):
                    d, a = _phash_scalar(fr)
                    vrows.append((mid, fi, d, a))
        apdf = pd.DataFrame(arows, columns=["media_id", "afp"])
        apdf["afp"] = apdf["afp"].astype("int64")
        vpdf = pd.DataFrame(
            vrows, columns=["media_id", "frame_idx", "phash_d", "phash_a"]
        )
        vpdf["frame_idx"] = vpdf["frame_idx"].astype("int32")
        for c in ("phash_d", "phash_a"):
            vpdf[c] = vpdf[c].astype("int64")
        for pdf_, path in ((apdf, apath), (vpdf, vpath)):
            tmp = path + ".tmp"
            pdf_.to_parquet(tmp, index=False)
            os.replace(tmp, path)
    return apath, vpath
