"""End-to-end training-data preparation plan: the tokens-tier counterpart
of plans.pipeline — raw documents in, training shards out, one metrics
table per run.

    documents (doc_id, text, source)
      -> quality/mixture gate   (prepare_corpus: dedup, length,
                                 repetition, deterministic mixture)
      -> hash tokenize          (md5 hashing trick, JVM-side)
      -> duplicated-span trim   (keep-first substring dedup, Lee'22)
      -> sequence packing       (fixed-length examples, exact offsets)
      -> shard write            (one in-order parquet file per shard)

Every stage is an oracle-proven operator (see __spark_entry__:
prepare_corpus / hash_tokenize / trim_dup_spans / pack_sequences /
corpus_to_shards); this plan only composes them and accounts for rows
and tokens at each step, mirroring run_and_write's metrics contract so a
driver can diff counts stage by stage.

Scale notes: the gates are scan-side filters; tokenize is a projection;
trim's shuffles carry only (id, start, hash) triples; packing moves each
token exactly once; the shard write reuses the assignment's own exchange.
Nothing in the chain holds a resident copy of the corpus.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.fs import read_marker, write_marker
from otel_tail_sampler_spark.functions.tables import local_table


def run_corpus_prep(
    spark: SparkSession,
    documents_path: str,
    out_dir: str,
    rates: dict[str, float] | None = None,
    vocab_size: int = 65536,
    max_len: int = 512,
    n_shards: int = 16,
    trim_window: int = 32,
    trim_stride: int = 16,
    min_words: int = 5,
    max_words: int = 5000,
    resume: bool = False,
) -> dict[str, int]:
    """Run the full prep DAG; write shards under ``out_dir``/shards and
    return the per-stage metrics dict (also written as one parquet row to
    ``out_dir``/metrics_run).

    ``resume=True`` makes the run restartable at stage granularity: each
    materialized stage (tokenized corpus, shards) carries a ``_SPEC.json``
    marker recording the exact parameters that produced it plus its
    metrics; a stage whose marker matches the current parameters is reused
    without touching its inputs (a resumed run whose tokenize stage is
    current never rescans the documents table at all), and a stage whose
    parameters changed is recomputed — its write replaces the whole
    directory (static overwrite), so a shrunk ``n_shards`` leaves no stale
    shard partitions behind. Markers are written
    only after the stage's data lands: an interrupted write leaves no
    marker and recomputes cleanly.
    """
    from otel_tail_sampler_spark.operators.corpus import prepare_corpus
    from otel_tail_sampler_spark.operators.dedup import trim_dup_spans
    from otel_tail_sampler_spark.operators.packing import (
        pack_sequences,
        write_shards,
    )
    from otel_tail_sampler_spark.operators.text import hash_tokenize

    tok_spec = {
        "documents": documents_path,
        "rates": "auto-identity" if rates is None else rates,
        "vocab_size": int(vocab_size),
        "trim_window": int(trim_window),
        "trim_stride": int(trim_stride),
        "min_words": int(min_words),
        "max_words": int(max_words),
    }
    tok_dir = f"{out_dir}/tokenized"
    tok_marker = f"{tok_dir}/_SPEC.json"
    m1: dict | None = None
    if resume:
        saved = read_marker(spark, tok_marker)
        if saved and saved.get("spec") == tok_spec:
            m1 = saved["metrics"]
    if m1 is None:
        docs = spark.read.parquet(documents_path)
        n_docs = docs.count()
        if rates is None:
            # identity mixture: every observed source at rate 1.0 (gates
            # still apply). One tiny distinct scan of the source column.
            run_rates = {
                r[0]: 1.0
                for r in docs.select("source").distinct().collect()
            }
        else:
            run_rates = rates
        kept_ids = prepare_corpus(
            docs, run_rates, min_words=min_words, max_words=max_words
        ).select("doc_id")
        kept = docs.join(kept_ids, "doc_id", "semi")

        toks = hash_tokenize(kept, vocab_size=vocab_size)
        trimmed = trim_dup_spans(
            toks, window=trim_window, stride=trim_stride
        )
        # MATERIALIZE the trimmed corpus once: everything upstream (dedup
        # groupBy, repetition join, semi-join, tokenize, trim) runs exactly
        # one time; the accounting aggregate and packing's several passes
        # then read the cheap column-pruned parquet instead of re-executing
        # the DAG (previously ~5 full recomputations of the most expensive
        # stages). The tokenized table is also a useful artifact.
        trimmed.write.mode("overwrite").parquet(tok_dir)
        acct = (
            spark.read.parquet(tok_dir)
            .agg(
                F.count(F.lit(1)).alias("docs_kept"),
                F.sum(F.size("tokens")).alias("tokens_out"),
                F.sum("n_removed").alias("tokens_trimmed"),
            )
            .collect()[0]
        )
        m1 = {
            "docs_in": int(n_docs),
            "docs_kept": int(acct["docs_kept"] or 0),
            "tokens_out": int(acct["tokens_out"] or 0),
            "tokens_trimmed": int(acct["tokens_trimmed"] or 0),
        }
        write_marker(spark, tok_marker, {"spec": tok_spec, "metrics": m1})
    trimmed = spark.read.parquet(tok_dir)

    shard_spec = {
        "stage1": tok_spec,
        "max_len": int(max_len),
        "n_shards": int(n_shards),
    }
    shards_dir = f"{out_dir}/shards"
    shard_marker = f"{shards_dir}/_SPEC.json"
    m2: dict | None = None
    if resume:
        saved = read_marker(spark, shard_marker)
        if saved and saved.get("spec") == shard_spec:
            m2 = saved["metrics"]
    if m2 is None:
        packed = pack_sequences(
            trimmed, max_len=max_len, n_rows=int(m1["docs_kept"])
        )
        write_shards(packed, shards_dir, n_shards=n_shards)
        m2 = {"examples": int(spark.read.parquet(shards_dir).count())}
        write_marker(
            spark, shard_marker, {"spec": shard_spec, "metrics": m2}
        )

    metrics = {
        "docs_in": int(m1["docs_in"]),
        "docs_kept": int(m1["docs_kept"]),
        "tokens_out": int(m1["tokens_out"]),
        "tokens_trimmed": int(m1["tokens_trimmed"]),
        "examples": int(m2["examples"]),
        "n_shards": int(n_shards),
        "max_len": int(max_len),
    }
    local_table(
        spark,
        [tuple(metrics.values())],
        ", ".join(f"{k} long" for k in metrics),
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/metrics_run")
    return metrics
