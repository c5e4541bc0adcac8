"""Per-partition checkpoints: resumable bounded runs + per-stage lineage.

North-rule requirement (BASELINE.json): "resumable from per-partition
checkpoints with lineage and row-count metrics emitted per stage". The
reference's analog is Redis exported-keys dedup across restarts
(/root/reference/src/sampling/evaluator.rs:358-401); Spark batch has no
native per-partition resume (SURVEY.md §7.4.5), so we build it from
idempotent primitives:

* the unit of work is a deterministic LOGICAL bucket hashed from the trace
  key (``bucket_col``) — trace-aligned, so a bucket is decidable in
  isolation (all spans of a trace share its bucket; never bucket by input
  split, which would tear traces apart);
* sinks are written ``partitionBy(bucket, decision)`` with dynamic partition
  overwrite -> re-writing a bucket is idempotent;
* the manifest (parquet under ``_checkpoint/``) records done buckets; a
  resumed run reads it and filters those buckets out of the scan, BEFORE
  the parse, so their parse/route cost is never paid again;
* each manifest row records the bucket count it was hashed with: a bucket
  id names a different set of traces under another count, so a resume at
  another ``n_buckets`` raises instead of skipping spans it never wrote;
* the buckets still to do run through the flagship DAG itself
  (plans.pipeline.route over the bucket-filtered scan, counted on the
  sink write like run_and_write's): the resumable job and the
  benchmarked job are one program.

What a failure saves: every remaining bucket is written by ONE sink write,
and the manifest gains a row for each of them once, after that write
commits. A pass that fails anywhere before the commit records no bucket,
so its resume redoes the whole pass. A completed pass records every
bucket, so a resume that skips only some of them needs a manifest written
some other way (the tests forge one). Per-bucket commits need the pass
split into waves of buckets, each committing before the next. A crash
between the sink commit and the manifest append rewrites those buckets
on resume, which is harmless by idempotence (the Iceberg write.target
'append-once discipline' called out in SURVEY.md §7.4.5).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.fs import path_exists
from otel_tail_sampler_spark.functions.tables import local_table
from otel_tail_sampler_spark.operators.parser import trace_key_exprs
from otel_tail_sampler_spark.operators.policies import SamplerConfig
from otel_tail_sampler_spark.plans.pipeline import (
    observe_sinks,
    read_tokenized,
    route,
    trace_counts,
)

MANIFEST_SCHEMA = (
    "bucket int, status string, rows long, committed_at_ms long, n_buckets int"
)


def bucket_col(n_buckets: int):
    # trace-aligned bucket from the gated int64 key pair, computed from the
    # raw tokens (no parse needed); malformed rows (null key) fall back to
    # doc_id so they land in a deterministic bucket instead of all
    # colliding in one
    k1, k2 = trace_key_exprs(F.col("tokens"))
    return F.pmod(
        F.xxhash64(
            F.coalesce(k1.cast("string"), F.col("doc_id")),
            F.coalesce(k2.cast("string"), F.lit("")),
        ),
        F.lit(n_buckets),
    ).cast("int")


def read_manifest(spark: SparkSession, ckpt_dir: str, n_buckets: int) -> set[int]:
    """Bucket ids the manifest marks done. Raises ValueError when the
    manifest was written at another bucket count (rows from before the
    count was recorded read it as null and are not checked). Only a
    missing manifest reads as empty; one that fails to read raises."""
    if not path_exists(spark, ckpt_dir):
        return set()
    rows = spark.read.schema(MANIFEST_SCHEMA).parquet(ckpt_dir).collect()
    recorded = {r["n_buckets"] for r in rows} - {None, n_buckets}
    if recorded:
        raise ValueError(
            f"checkpoint {ckpt_dir} was written with n_buckets="
            f"{sorted(recorded)}, not {n_buckets}: resume with the same "
            "bucket count, or delete the checkpoint and the routed output "
            "to start over"
        )
    return {r["bucket"] for r in rows if r["status"] == "done"}


@dataclass
class ResumableResult:
    processed_buckets: list[int]
    skipped_buckets: list[int]
    stage_metrics: dict[str, int]


def run_resumable(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: SamplerConfig | None = None,
    n_buckets: int = 16,
    force_rules: list[dict] | None = None,
) -> ResumableResult:
    """One resumable pass: process all not-yet-committed buckets in one sink
    write, then append a manifest row for each of them. The manifest only
    changes after that write commits, so re-running after a failed pass
    redoes every bucket the pass had; buckets the manifest marks done are
    skipped."""
    ckpt_dir = os.path.join(out_dir, "_checkpoint")
    routed_dir = os.path.join(out_dir, "routed")
    done = read_manifest(spark, ckpt_dir, n_buckets)
    remaining = [b for b in range(n_buckets) if b not in done]
    if not remaining:
        return ResumableResult([], sorted(done), {})

    tokenized = read_tokenized(spark, input_path).withColumn(
        "bucket", bucket_col(n_buckets)
    )
    if done:  # prune completed buckets BEFORE the parse and any shuffle
        tokenized = tokenized.filter(~F.col("bucket").isin(sorted(done)))
    cfg = cfg or SamplerConfig()
    routed, obs = observe_sinks(route(tokenized, cfg, force_rules), cfg)

    # idempotent sink commit FIRST — the single full pass over the data,
    # which also counts the traces (one marked row each) on its way.
    # Dynamic partition overwrite, pinned for this write only: Spark's
    # default static mode would delete the bucket partitions committed
    # before the resume while the manifest still marks them done.
    (
        routed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "decision")
        .parquet(routed_dir)
    )
    n_traces, _ = trace_counts(obs, cfg)

    # lineage counts from the WRITTEN data (partition-pruned read-back of
    # this run's buckets) — no second pass over the input
    counts = (
        spark.read.parquet(routed_dir)
        .filter(F.col("bucket").isin(remaining))
        .groupBy("bucket", "decision")
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    stage_metrics: dict[str, int] = {}
    per_bucket: dict[int, int] = {}
    for r in counts:
        stage_metrics[f"routed_{r['decision']}"] = (
            stage_metrics.get(f"routed_{r['decision']}", 0) + r["rows"]
        )
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + r["rows"]
    stage_metrics["input_rows"] = sum(per_bucket.values())
    stage_metrics["traces"] = n_traces

    # manifest append AFTER data commit
    now_ms = int(time.time() * 1000)
    manifest_rows = [
        (int(b), "done", int(per_bucket.get(b, 0)), now_ms, n_buckets)
        for b in remaining
    ]
    local_table(spark, manifest_rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ckpt_dir)

    return ResumableResult(sorted(remaining), sorted(done), stage_metrics)
