"""One scaling-protocol measurement: run one protocol's timed pass R times
in this JVM at the given parallelism and print one JSON line with the warm
time (the min of the R draws) and the rates at it.

Invoked by scripts/bench_scaling.py via spark-submit at local[N]:
``scaling_job.py PROTOCOL CORES DATASET REPEATS``. Each protocol is one
function: it does the untimed set-up and returns the level's fixed fields,
the units it rates per second, and one timed pass.

* ``pipeline`` — the full decision pipeline, parse to per-sink counts.
* ``prep`` — the training-prep permutation core (pack -> shard): every
  token moves once through the example exchange, and the shard window's
  exchange doubles as the write partitioning.
* ``selection`` — DSIR score + top-k select over a standing model (built
  and pinned once, untimed, as a recurring scoring job amortizes it): the
  corpus crosses the JVM<->Python socket once per pass and never
  shuffles, so this measures how the Arrow worker pool scales with cores.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# one shard count at every level, so every level runs the same job; twice
# the largest protocol level (32 cores), so the shard window has work for
# every core
PREP_SHARDS = 64
# deterministic xN replication of the selection corpus: unreplicated, the
# sf0.1 corpus finishes in ~3 s on ONE core, so fixed job overhead (driver,
# Arrow batch setup, TakeOrdered merge) would dominate any efficiency ratio
SELECTION_REPLICAS = 8


def pipeline(spark, paths):
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from otel_tail_sampler_spark.operators.routing import decision_metrics
    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    # list/read the input once — a production job pays file listing once, so
    # per-repeat re-listing would be a measurement artifact
    tokenized = spark.read.parquet(paths["tokenized"])

    def run():
        res = run_pipeline(spark, tokenized, E.ENTRY_CFG)
        # ONE action: union the two tiny metric tables so sink-row counts and
        # per-policy trace counts materialize in a single job
        both = (
            res.routed.groupBy("decision")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("kind", F.lit("rows"))
            .unionByName(
                decision_metrics(res.decisions)
                .select(F.col("sink").alias("decision"), F.col("trace_count").alias("n"))
                .withColumn("kind", F.lit("traces"))
            )
            .collect()
        )
        return {
            "n_spans": sum(r["n"] for r in both if r["kind"] == "rows"),
            "n_traces": sum(r["n"] for r in both if r["kind"] == "traces"),
        }

    return {}, ("traces", "spans"), run


def prep(spark, paths):
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.packing import assign_shards, pack_sequences

    tokenized = spark.read.parquet(paths["tokenized"])
    n_rows = tokenized.count()  # known row count: pack skips its sizing scan

    def run():
        packed = pack_sequences(tokenized, max_len=512, n_rows=n_rows)
        row = assign_shards(packed, n_shards=PREP_SHARDS).agg(
            F.sum("n_tok").alias("tokens"), F.count(F.lit(1)).alias("examples")
        ).collect()[0]
        return {"n_tokens": int(row["tokens"]), "n_examples": int(row["examples"])}

    return {"n_rows": n_rows}, ("tokens",), run


def selection(spark, paths):
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.functions.tables import local_table
    from otel_tail_sampler_spark.operators.selection import build_dsir_model_partitioned, dsir_select

    reps = spark.range(SELECTION_REPLICAS).select(F.col("id").cast("int").alias("_rep"))
    # distinct ids keep the top-k and every per-doc computation well-defined
    tokenized = (
        spark.read.parquet(paths["tokenized"])
        .crossJoin(F.broadcast(reps))
        .select(
            F.concat_ws("#", "doc_id", F.col("_rep").cast("string")).alias("doc_id"),
            "tokens",
            "source",
        )
    )
    n_docs = tokenized.count()
    model = build_dsir_model_partitioned(tokenized, F.col("source") == "svc-00", n_buckets=1 << 16)
    # pinned as a LocalTableScan: the timed passes neither re-run the
    # model's lineage nor start Python tasks to read it
    model = local_table(spark, model.collect(), model.schema)

    def run():
        dsir_select(tokenized, model, k=1000, n_buckets=1 << 16).collect()
        return {}

    return {"n_docs": n_docs}, ("docs",), run


def main() -> None:
    protocol, cores, dataset, repeats = sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4])

    from otel_tail_sampler_spark.session import build_session
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    paths = ensure_dataset(dataset)
    spark = build_session(
        app_name=f"{protocol}-scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores * 2,
    )
    measure = {"pipeline": pipeline, "prep": prep, "selection": selection}[protocol]
    level, rated, run = measure(spark, paths)
    times = []
    for _ in range(repeats):
        spark.catalog.clearCache()
        t0 = time.time()
        level.update(run())
        times.append(time.time() - t0)
    spark.stop()

    warm = min(times)
    # the selection record has always named its repeats "draws"
    draws = "draws" if protocol == "selection" else "times"
    level = {"cores": cores, "dataset": dataset, draws: [round(t, 3) for t in times],
             "warm_sec": round(warm, 3), **level}
    level.update({f"{u}_per_sec": round(level[f"n_{u}"] / warm, 1) for u in rated})
    print(json.dumps(level))


if __name__ == "__main__":
    main()
