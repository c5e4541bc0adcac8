"""Streaming corpus-prep leg: continuously-ingesting documents -> gated,
deduplicated, tokenized parquet — the tokens-tier streaming counterpart of
streaming/stream_job.py's span pipeline.

    readStream(documents dir)                 (file source; Kafka swaps in)
      -> stateless quality gate               (word-count bounds + dup-word
                                               ratio: per-row expressions,
                                               legal in a streaming plan)
      -> hash tokenize                        (pure projection; the
                                               content digest is taken
                                               first)
      -> optional DSIR gate                   (offline model, per-row
                                               importance resample)
      -> cross-batch first-wins exact dedup   (dedup_stream: bucketed
                                               digest state, tokens ride
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

from otel_tail_sampler_spark.operators.selection import dsir_sample
from otel_tail_sampler_spark.operators.text import hash_tokenize
from otel_tail_sampler_spark.streaming.buckets import pin_state_buckets
from otel_tail_sampler_spark.streaming.dedup_stream import dedup_stream


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
    # the digest is taken before tokenizing projects the text away
    toks = hash_tokenize(
        _quality_gate(docs).withColumn("digest", F.md5(F.col("text"))),
        vocab_size=vocab_size,
        keep_cols=("source", "digest"),
    )
    payload_cols = ("source", "tokens", "n_tok")
    if dsir_model is not None:
        toks = dsir_sample(
            toks,
            dsir_model,
            rate=dsir_rate,
            keep_cols=("source", "n_tok", "tokens", "digest"),
        )
        payload_cols += ("ratio_fp",)
    deduped = dedup_stream(
        toks,
        digest_col="digest",
        payload_cols=payload_cols,
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
