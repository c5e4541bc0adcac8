"""Streaming corpus-prep leg: continuously-ingesting documents -> gated,
deduplicated, tokenized parquet — the tokens-tier streaming counterpart of
streaming/stream_job.py's span pipeline.

    readStream(documents dir)                 (file source; Kafka swaps in)
      -> stateless quality gate               (word-count bounds + dup-word
                                               ratio: per-row expressions,
                                               legal in a streaming plan)
      -> hash tokenize                        (pure projection)
      -> cross-batch first-wins exact dedup   (applyInPandasWithState keyed
                                               by content digest; state =
                                               ONE tiny first_id row per
                                               distinct digest, tokens ride
                                               the emitted row only)
      -> parquet append sink                  (checkpointed file sink:
                                               exactly-once manifest commit,
                                               restart resumes from the
                                               checkpoint — the streaming-
                                               native resume analog of
                                               run_corpus_prep's _SPEC.json
                                               stage markers)

The batch DAG (plans/corpus_prep.py) remains the packing/sharding path —
packing needs global offsets, which is a bounded-job computation by
construction; this leg keeps the TOKENIZED table continuously current so
the bounded pack/shard job runs on demand over an always-fresh input.

Gate parity: the word-count and dup-word-ratio gates reuse the same
whitespace contract as the batch prepare_corpus (normalize -> trim ->
split); batch exact_dedup elects the MIN id per digest while this leg
elects the FIRST ARRIVAL (same-batch ties -> min id) — the defining
semantic difference of the streaming form, inherited from dedup_stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.streaming.buckets import pin_state_buckets


def _quality_gate(docs: DataFrame) -> DataFrame:
    """Stateless per-row quality gate (streaming-legal: no aggregation).
    Same signals as the batch prepare_corpus chain — word-count bounds and
    the duplicated-word fraction — as pure expressions."""
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    w = F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    n_words = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    # rounded to 6dp like repetition_signals' dup_word_frac — the batch
    # prepare_corpus gate compares the ROUNDED value, so comparing raw
    # here would flip keep/drop for docs sitting exactly at the threshold
    dup_frac = F.round(
        F.when(
            n_words > 0,
            (n_words - n_distinct).cast("double") / n_words.cast("double"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return docs.filter(
        (n_words >= 5)
        & (n_words <= 5000)
        & (dup_frac <= 0.6)
    )


def tokenize_dedup_stream(
    docs: DataFrame,
    vocab_size: int = 65536,
    select_fn=None,
    extra_payload_cols: tuple = (),
    ref_digests: DataFrame | None = None,
) -> DataFrame:
    """Tokenized, cross-batch-deduplicated document stream:
    -> (digest, doc_id, source, tokens array<int>, n_tok int,
    dup_count int), one row per FIRST ARRIVAL of each content digest.

    A thin wrapper over dedup_stream — the ONE first-wins/TTL state
    machine — keyed on the digest taken BEFORE tokenizing (the raw text
    is projected away by the tokenizer), with the tokenized payload
    riding the elected row via ``payload_cols``. Tokens never enter the
    state store — state stays O(distinct digests), not O(corpus bytes).

    ``select_fn`` (optional): a STATELESS tokenized-stream transform
    applied between tokenize and dedup — the hook run_prep_stream's
    DSIR gate uses. It must preserve (id, source, tokens, n_tok,
    _digest) and may only drop rows / add columns that are pure row
    functions (streaming-legal, and selection-before-dedup keeps the
    state store from ever holding digests of docs the gate discards).
    """
    from otel_tail_sampler_spark.operators.text import hash_tokenize
    from otel_tail_sampler_spark.streaming.dedup_stream import dedup_stream

    with_digest = docs.withColumn("_digest", F.md5(F.col("text")))
    toks = hash_tokenize(
        with_digest,
        vocab_size=vocab_size,
        keep_cols=("source", "_digest"),
    )
    if select_fn is not None:
        toks = select_fn(toks)
    return dedup_stream(
        toks,
        digest_col="_digest",
        payload_cols=("source", "tokens", "n_tok", *extra_payload_cols),
        ref_digests=ref_digests,
    )


def run_prep_stream(
    spark: SparkSession,
    documents_dir: str,
    out_dir: str,
    vocab_size: int = 65536,
    available_now: bool = True,
    schema=None,
    dsir_model=None,
    dsir_rate: float = 1.0,
    ref_digests: DataFrame | None = None,
):
    """Wire the streaming prep leg end-to-end over a documents directory
    and return the started StreamingQuery. Output lands under
    ``out_dir``/tokenized (append-only parquet, exactly-once via the file
    sink manifest); the checkpoint under ``out_dir``/_checkpoint makes a
    restart continue from the last committed batch — new source files
    only, no re-emission of already-committed digests; a restart at other
    shuffle partitions raises (streaming.buckets).

    ``available_now=True`` drains everything currently in the directory
    and stops (the bounded test/run mode); ``False`` leaves the query
    running on the default micro-batch trigger.

    ``schema`` (a StructType or DDL string) pins the stream schema
    explicitly — REQUIRED for a deployment that starts before producers
    write the first file: the fallback probe is an eager batch read of
    ``documents_dir`` and throws on an empty directory.

    ``dsir_model`` (optional): a BATCH (bucket, t_freq, r_freq) model
    from build_dsir_model* at its default bucket count — the offline-trained / online-applied
    pattern: the model collects into the arrow scoring kernel at
    composition time and each micro-batch is importance-resampled at
    ``dsir_rate`` (exact md5 acceptance, dedup state never sees
    rejected docs). The kept rows carry their ``ratio_fp``.

    ``ref_digests`` (optional): a STATIC one-``digest``-column batch
    DataFrame over the STANDING corpus — incremental ingestion: texts
    the corpus already holds are anti-joined away before the dedup
    state machine (see dedup_stream), so re-crawled known documents
    neither land in the output nor grow state.
    """
    if schema is None:
        schema = spark.read.parquet(documents_dir).schema
    docs = spark.readStream.schema(schema).parquet(documents_dir)
    gated = _quality_gate(docs)
    select_fn = None
    if dsir_model is not None:
        from otel_tail_sampler_spark.operators.selection import dsir_sample

        def select_fn(toks):  # noqa: F811 — the documented hook
            return dsir_sample(
                toks,
                dsir_model,
                rate=dsir_rate,
                keep_cols=("source", "n_tok", "tokens", "_digest"),
            ).drop("n_feat", "target_mass", "raw_mass")

    deduped = tokenize_dedup_stream(
        gated,
        vocab_size=vocab_size,
        select_fn=select_fn,
        extra_payload_cols=("ratio_fp",) if dsir_model is not None else (),
        ref_digests=ref_digests,
    )
    ckpt = f"{out_dir}/_checkpoint"
    pin_state_buckets(spark, ckpt)
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", f"{out_dir}/tokenized")
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
