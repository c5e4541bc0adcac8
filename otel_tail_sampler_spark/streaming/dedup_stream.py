"""Streaming exact-dedup for the training-data (tokens) tier.

Batch exact_dedup (operators/dedup.py) picks the min-id representative of
each identical text in one bounded job. A continuously-ingesting corpus
needs the STREAMING form: the first arrival of each content digest passes
through, every later arrival is dropped — the same first-wins contract as
the reference's Redis exported-manifest (SETNX semantics,
/root/reference/src/sampling/evaluator.rs:358-401), expressed as
``applyInPandasWithState`` keyed by the md5 digest.

State shape: ONE tiny row (first_id) per DISTINCT digest — the
streaming analog of the Redis key set, partitioned by digest hash
across executors, and the natural skew-free key (digests are uniform by
construction). Content never enters the state store; the wide text/token
columns ride the emitted row only. Cross-batch duplicate counts are NOT
maintained: append mode only emits on first arrival, so an accumulated
counter would be write-only dead state updated on every duplicate
forever — the emitted ``dup_count`` covers same-batch duplicates only.
Digests never expire (there is no SETEX analog): state grows with the
stream's distinct digests, minus any the ``ref_digests`` anti join
drops before the state machine.

Within one micro-batch, ties break to the MIN id (same representative
the batch operator elects); across batches, arrival order decides — that
is the defining semantic difference of the streaming form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.streaming.buckets import state_buckets


def dedup_stream(
    docs: DataFrame,
    digest_col: str | None = None,
    payload_cols: tuple[str, ...] = (),
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """First-wins streaming dedup -> (digest, doc_id, *payload_cols,
    dup_count): one row per NEW digest, emitted in the micro-batch where
    it first appears. dup_count counts same-batch duplicates folded into
    that emission.

    ``doc_id`` keeps its ORIGINAL type end-to-end (schemas are derived from
    the input), so the same-batch min-id election orders exactly like the
    batch operator's F.min — stringifying ids first would elect "10"
    before "2" and silently diverge from exact_dedup's representative.

    ``digest_col`` names a PRECOMPUTED digest column to key on instead of
    md5(text) — for inputs whose raw text was already projected away
    (the streaming prep leg keys on the digest it took before
    tokenizing). ``payload_cols`` ride the ELECTED row through to the
    output (state still holds only first_id — payload never enters the
    state store). ``ref_digests`` (a STATIC one-``digest``-column batch
    DataFrame over the standing corpus) drops already-known texts via a
    stream-static anti join BEFORE the state machine — the streaming
    face of ``reference_dup_pairs``: known texts neither emit nor cost
    a state row, so state is bounded by the stream's novelty, not the
    corpus. There is exactly ONE copy of this first-wins state
    machine; wrappers parameterize it rather than re-implement it.

    STATE LAYOUT (round 7): digests hash into ``2 x shuffle-partitions``
    buckets and each bucket keys ONE state row holding its known digests
    as parallel arrays — the Redis-shard analog (one key SET per shard,
    not one Spark state row per digest). The earlier one-row-per-digest
    formulation paid the applyInPandasWithState per-group protocol cost
    (~10 ms: state decode, pandas slice, fn call, state encode) once per
    DISTINCT DIGEST per micro-batch, which at sf0.1 was most of the
    bounded run's wall time. Per-digest first-wins semantics are
    unchanged: the same rows are emitted.

    CHECKPOINT COMPATIBILITY: the state row ``(digests, first_ids)``
    replaces the round-4 per-digest rows and the round-7 rows with an
    always-zero ``deadlines`` array; a checkpoint written by any earlier
    version needs a FRESH checkpointLocation (already-seen digests
    re-emit once). The caller that owns the checkpoint pins the bucket
    count (``streaming.buckets.pin_state_buckets``, as run_prep_stream
    does)."""
    import pandas as pd

    id_type = docs.schema["doc_id"].dataType.simpleString()
    ptypes = {
        c: docs.schema[c].dataType.simpleString() for c in payload_cols
    }
    out_schema = ", ".join(
        [f"digest string, doc_id {id_type}"]
        + [f"{c} {ptypes[c]}" for c in payload_cols]
        + ["dup_count int"]
    )
    state_schema = f"digests array<string>, first_ids array<{id_type}>"
    n_buckets = state_buckets(docs.sparkSession)

    digest = F.col(digest_col) if digest_col else F.md5(F.col("text"))
    keyed = docs.select(
        digest.alias("_digest"),
        F.col("doc_id").alias("_id"),
        *[F.col(c) for c in payload_cols],
    )
    if ref_digests is not None:
        # standing-corpus awareness (the incremental-ingestion case the
        # batch reference_dup_pairs answers): a stream-STATIC left-anti
        # join drops every digest the existing corpus already holds
        # BEFORE the state machine, so known texts neither emit on first
        # arrival nor cost a state row — state stays bounded by the
        # stream's own novelty, not the corpus. The static side must be
        # a batch DataFrame with one ``digest`` column (e.g.
        # select(md5(text)) over the corpus, or its stored manifest).
        keyed = keyed.join(
            F.broadcast(ref_digests.select(F.col("digest"))),
            keyed["_digest"] == F.col("digest"),
            "left_anti",
        )
    keyed = keyed.withColumn(
        "_bucket",
        F.pmod(F.xxhash64(F.col("_digest")), F.lit(n_buckets)).cast("int"),
    )

    def fn(key, pdfs, state):
        known: dict = {}
        if state.exists:
            dgs, fids = state.get
            known = dict(zip(dgs, fids))
        new: dict = {}  # digest -> [min_id_row_vals, dup_count]
        for pdf in pdfs:
            cols = [pdf["_id"].to_numpy()] + [
                pdf[c].to_numpy(object) for c in payload_cols
            ]
            for vals in zip(pdf["_digest"], *cols):
                d = vals[0]
                if d in known:
                    continue
                cur = new.get(d)
                if cur is None:
                    new[d] = [vals[1:], 0]
                else:
                    cur[1] += 1
                    # same-batch ties -> min id in the column's NATIVE
                    # ordering (numeric ids compare numerically, exactly
                    # like batch F.min)
                    if vals[1] < cur[0][0]:
                        cur[0] = vals[1:]
        for d, (vals, _dups) in new.items():
            fid = vals[0]
            if hasattr(fid, "item"):  # numpy scalar -> python
                fid = fid.item()
            known[d] = fid
        if new:
            ks = list(known)
            state.update((ks, [known[d] for d in ks]))
            ds = list(new)
            out = {
                "digest": [str(d) for d in ds],
                "doc_id": [
                    v[0][0].item()
                    if hasattr(v[0][0], "item") else v[0][0]
                    for v in (new[d] for d in ds)
                ],
            }
            for j, c in enumerate(payload_cols):
                out[c] = [new[d][0][1 + j] for d in ds]
            out["dup_count"] = [new[d][1] for d in ds]
            yield pd.DataFrame(out)

    return keyed.groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
