"""Streaming exact-dedup for the training-data (tokens) tier.

Batch exact_dedup (operators/dedup.py) picks the min-id representative of
each identical text in one bounded job. A continuously-ingesting corpus
needs the STREAMING form: the first arrival of each content digest passes
through, every later arrival is dropped — the same first-wins contract as
the reference's Redis exported-manifest (SETNX semantics,
/root/reference/src/sampling/evaluator.rs:358-401), expressed as
``applyInPandasWithState`` over digest buckets.

State layout is the reference's shard-local key set: digests hash into
buckets (``streaming.buckets.bucket_of``) and each bucket keys ONE state
row holding its known digests and their first ids as parallel arrays,
so the applyInPandasWithState per-group cost is paid once per bucket,
not once per digest. Content never enters the state store; the wide
text/token columns ride the emitted row only. Cross-batch duplicate
counts are NOT maintained: append mode only emits on first arrival, so
an accumulated counter would be write-only state updated on every
duplicate forever — the emitted ``dup_count`` covers same-batch
duplicates only. Digests never expire (there is no SETEX analog): state
grows with the stream's distinct digests, minus any the ``ref_digests``
anti join drops before the state machine.

Within one micro-batch, ties break to the MIN id (same representative
the batch operator elects); across batches, arrival order decides — that
is the defining semantic difference of the streaming form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_tail_sampler_spark.streaming.buckets import bucket_of


def _step(held: tuple, batch: pd.DataFrame) -> tuple[tuple, pd.DataFrame]:
    """One bucket's trigger, as (state to hold, rows to emit). ``held`` is
    the bucket's (digests, first_ids); ``batch`` its (digest, doc_id,
    *payload) rows. Rows of a held digest drop; ONE stable sort by
    (digest, doc_id), in the id's own type (numeric ids order
    numerically, like batch F.min), elects each new digest's first row —
    its min id, the earlier arrival on an exact tie. The elected rows
    emit with their digest's other rows counted as ``dup_count``, and
    their (digest, doc_id) pairs append to the state."""
    digests, ids = held
    new = batch[~batch["digest"].isin(digests)]
    dg = pd.factorize(new["digest"], sort=True, use_na_sentinel=False)[0]
    order = np.lexsort((pd.factorize(new["doc_id"], sort=True)[0], dg))
    dg = dg[order]
    starts = np.flatnonzero(np.diff(dg, prepend=-1))
    out = new.iloc[order[starts]].assign(
        dup_count=np.diff(starts, append=len(dg)) - 1
    )
    if out.empty:
        return held, out
    return (
        [*digests, *out["digest"].tolist()],
        [*ids, *out["doc_id"].tolist()],
    ), out


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
    output (state holds only first ids — payload never enters the
    state store). ``ref_digests`` (a STATIC one-``digest``-column batch
    DataFrame over the standing corpus) drops already-known texts via a
    stream-static anti join BEFORE the state machine — the streaming
    face of ``reference_dup_pairs``: known texts neither emit nor cost
    a state row, so state is bounded by the stream's novelty, not the
    corpus.

    The caller that owns the checkpoint pins the bucket count
    (``streaming.buckets.pin_state_buckets``, as run_prep_stream does)."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    out_schema = ", ".join(
        [f"digest string, doc_id {id_type}"]
        + [f"{c} {docs.schema[c].dataType.simpleString()}" for c in payload_cols]
        + ["dup_count int"]
    )
    state_schema = f"digests array<string>, first_ids array<{id_type}>"

    digest = F.col(digest_col) if digest_col else F.md5(F.col("text"))
    keyed = docs.select(digest.alias("digest"), "doc_id", *payload_cols)
    if ref_digests is not None:
        # a stream-STATIC left-anti join: the static side is a batch
        # DataFrame with one ``digest`` column (e.g. select(md5(text))
        # over the corpus, or its stored manifest)
        keyed = keyed.join(
            F.broadcast(ref_digests.select("digest")), "digest", "left_anti"
        )

    def fn(key, pdfs, state):
        held = state.get if state.exists else ([], [])
        held, out = _step(held, pd.concat(pdfs).drop(columns="_bucket"))
        if len(out):
            state.update(held)
            yield out

    return keyed.withColumn(
        "_bucket", bucket_of(docs.sparkSession, "digest")
    ).groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
