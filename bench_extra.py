"""Round-7 optimization harness (guide §1): per-query isolation timings
plus .explain("formatted") capture, SEPARATE from the frozen bench.py.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [query ...] [--draws N] [--plans-dir plans/r07] \
        [--suffix before]

Times each named secondary query with the same protocol as bench.py
(clearCache + builder + .collect(), min-of-N), labels jobs via
setJobDescription, and writes the physical plan of the returned frame to
<plans-dir>/<query>_<suffix>.txt. With no query names, runs the full
bench.py secondary list. Pass "pipeline_uniform" / "pipeline_skewed" to
time the pipeline legs the same way bench.py does.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SECONDARY = [
    "tpch_q1_pricing", "events_session_agg", "orders_enrich_join",
    "lineitem_semi_join", "span_service_stats", "minhash_lsh_pairs",
    "simhash", "embedding_topk", "embedding_neardup_lsh", "winnow_poly",
    "pack_sequences", "doc_quality", "repetition_signals", "contamination",
    "dup_token_spans", "corpus_to_shards", "bigram_novelty", "bm25_topk",
    "kmeans_clusters", "semantic_dedup", "ngram_counts", "bpe_encode",
    "dsir_select", "length_batches", "token_budget", "interleave_key",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=[])
    ap.add_argument("--draws", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)

    from otel_tail_sampler_spark.session import build_session
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    spark = build_session(
        app_name="bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2 if cpus.isdigit() else 64,
    )
    import __spark_entry__ as E

    names = args.names or SECONDARY
    results: dict[str, list[float]] = {}

    if not args.no_warmup:
        warm = ensure_dataset("0.001")
        wdf = spark.read.parquet(warm["tokenized"]).repartition(
            int(cpus) if cpus.isdigit() else 32
        )
        from otel_tail_sampler_spark.operators.parser import parse_spans
        parse_spans(wdf, keep_tokens=False).count()
        from bench import _pipeline_spans_per_sec
        _pipeline_spans_per_sec(spark, warm["tokenized"])

    qs = E.queries()
    for name in names:
        if name in ("pipeline_uniform", "pipeline_skewed"):
            from bench import _pipeline_spans_per_sec
            paths = ensure_dataset(
                "bench0.1" if name == "pipeline_skewed" else "0.1"
            )
            draws = []
            for _ in range(args.draws):
                spark.sparkContext.setJobDescription(name)
                d, n = _pipeline_spans_per_sec(spark, paths["tokenized"])
                draws.append(round(d, 3))
            results[name] = draws
            print(f"{name}: min={min(draws)} draws={draws} spans={n}",
                  flush=True)
            continue
        fn = qs[name]
        draws = []
        df = None
        for _ in range(args.draws):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.collect()
            draws.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = draws
        print(f"{name}: min={min(draws)} draws={draws}", flush=True)
        if args.plans_dir and df is not None:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)

    print(json.dumps({
        "sf_dir": sf_dir, "cpus": cpus,
        "mins": {k: min(v) for k, v in results.items()},
        "draws": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
