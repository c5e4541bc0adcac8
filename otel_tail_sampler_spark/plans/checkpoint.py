"""The checkpoint of the batch job: ``run_and_write`` resumes by bucket.

North-rule requirement (BASELINE.json): "resumable from per-partition
checkpoints with lineage and row-count metrics emitted per stage". The
reference's analog is its exported:{trace_id} keys across restarts
(evaluator.rs:358-401); Spark batch has no native per-partition resume
(SURVEY.md §7.4.5), so the job builds it from idempotent primitives:

* the unit of work is a bucket, Spark's bucket id on the trace key
  ``pmod(hash(trace_k1, trace_k2), n)`` (``bucket_col``, also the silver
  table's). It is trace-aligned, so a bucket is decidable alone, and each
  task of the route writes exactly one bucket of each sink;
* a first run takes ``n`` from the session's shuffle partitions and
  records it, with the bucket keys among its inputs. Fresh and resumed
  runs plan the route's one exchange at the recorded ``n``, so a changed
  session partition count neither re-hashes the buckets nor spreads one
  over several tasks;
* ``routed/`` is partitioned by (decision, [day,] bucket). A first run
  overwrites it statically. A resume filters the done buckets out on the
  bucket expression (Catalyst pushes the filter below the exchange, to the
  scan) and writes the rest with dynamic overwrite pinned at that write,
  so the done buckets stay on disk;
* the checkpoint is one JSON marker (functions.fs), rewritten after each
  pass commits: the job's inputs, ``n``, and per pass its buckets and its
  Observation counts. The metric tables are written from the sum of the
  passes' counts, so a resumed run writes the same tables as a one-shot
  run. After the tables the marker is marked finished, and a rerun of a
  finished run starts over.

What a failure saves: a pass that fails before its sink write commits
records nothing, so its resume redoes the whole pass. A run that fails
after the commit (metric tables, exported manifest) resumes with no
routed write at all. Commits in waves of buckets would need a bronze
table laid out by trace bucket: on a plain input every wave re-scans the
token column to compute its buckets (ROADMAP direction 3).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.fs import path_exists, read_marker, write_marker
from otel_tail_sampler_spark.operators.parser import TRACE_KEY

CHECKPOINT = "_checkpoint.json"


def bucket_col(n_buckets: int) -> Column:
    # the partition id of hashpartitioning(trace_k1, trace_k2, n)
    return F.pmod(F.hash(*TRACE_KEY), F.lit(n_buckets))


def open_checkpoint(spark: SparkSession, out_dir: str, inputs: dict) -> dict:
    """The checkpoint of the unfinished run in ``out_dir``, or a new one at
    the session's shuffle partitions when there is none or the last run
    finished. Raises ValueError when the marker does not read, or when
    the unfinished run had other ``inputs`` or bucket keys: its resume
    would mix two configs' decisions or two bucket functions in ``routed/``."""
    path = os.path.join(out_dir, CHECKPOINT)
    inputs = json.loads(json.dumps({**inputs, "bucket_keys": TRACE_KEY}, sort_keys=True))
    saved = read_marker(spark, path)
    if saved is None and path_exists(spark, path):
        raise ValueError(
            f"checkpoint {path} does not read as JSON or fails its checksum "
            "(rewritten outside the job?): delete it and the routed output "
            "to start over"
        )
    if saved is not None and not saved["finished"]:
        if saved["inputs"] != inputs:
            raise ValueError(
                f"checkpoint {path} belongs to an unfinished run with inputs "
                f"{saved['inputs']}, not {inputs}: resume with the same "
                "inputs, or delete the checkpoint and the routed output to "
                "start over"
            )
        return saved
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return {"inputs": inputs, "n_buckets": n_buckets, "passes": [], "finished": False}


def save_checkpoint(spark: SparkSession, out_dir: str, state: dict) -> None:
    write_marker(spark, os.path.join(out_dir, CHECKPOINT), state)
