"""Capture the physical plans of the flagship operators -> PLANS.md.

The 100-TB argument lives in the plan shapes, not the prose: this script
regenerates PLANS.md from the actual `explain("formatted")` output at sf0.001
so the documented plans can never drift from the code. Run after any operator
change: python scripts/plan_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out = buf.getvalue()
    # keep the operator tree; drop the verbose per-node field dumps
    tree = out.split("\n\n")[0]
    return tree


SECTIONS: list[tuple[str, str]] = []


def section(title: str, why: str, df) -> None:
    SECTIONS.append((title, why + "\n\n```\n" + explain(df) + "\n```"))


def main() -> None:
    from otel_tail_sampler_spark.session import build_session
    from otel_tail_sampler_spark.sources.generator import ensure_dataset

    import __spark_entry__ as E

    spark = build_session(master="local[8]", shuffle_partitions=8)
    paths = ensure_dataset("0.001")

    from otel_tail_sampler_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, paths["tokenized"], E.ENTRY_CFG)
    section(
        "Flagship pipeline: routed output",
        "What to check: ONE pass — one parquet scan, one Exchange\n"
        "hashpartitioning on (trace_k1, trace_k2) (its partition is the\n"
        "checkpoint's bucket_col) under one Window over (trace_k1,\n"
        "trace_k2, parse_ok), no join and no cached frame. The window\n"
        "computes only the summary aggregates the policies read (count,\n"
        "max status, max duration; Catalyst drops the rest) and decide()\n"
        "runs per row.\n"
        "ZERO Python stages (the decode is whole-stage-codegen expressions).",
        res.routed,
    )
    rule = {
        "id": "slow-span",
        "priority": 10,
        "resource_matchers": [
            {"key": "service.name", "op": "eq", "value": "api-gateway"}
        ],
        "span_matchers": [{"key": "duration_ms", "op": "gte", "value": "500"}],
        "action": "force_keep",
    }
    section(
        "Flagship pipeline: routed output with a force rule",
        "What to check: the rule's span-matcher flag is one more aggregate\n"
        "in the same Window (max over the trace's spans) and its resource\n"
        "matcher reads the window's first-span service — still one scan,\n"
        "one exchange and no join.",
        run_pipeline(spark, paths["tokenized"], E.ENTRY_CFG, force_rules=[rule]).routed,
    )

    import tempfile

    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    with tempfile.TemporaryDirectory() as out:
        tail = run_and_write(spark, paths["tokenized"], out, E.ENTRY_CFG)
        section(
            "Metric tail: run_and_write's returned decision metrics",
            "What to check: ONE LocalTableScan and nothing else — the\n"
            "per-(policy, decision) trace counts come from the sink write's\n"
            "Observation (one marked row per trace), and every metric table\n"
            "(metrics_decisions, metrics_rows, metrics_run) is written from\n"
            "driver-held rows that the JVM owns. No `Scan ExistingRDD` (a\n"
            "PythonRDD whose every action starts Python worker tasks) and no\n"
            "file scan: reading a returned table never re-runs the pipeline.",
            tail["decision_metrics"],
        )

    from otel_tail_sampler_spark.operators.policies import apply_rate_limit

    section(
        "Two-level rate limit",
        "What to check: the window over the bare (skewable) key appears only\n"
        "ABOVE the `_r1 <= limit` filter (bounded input); the full kept set\n"
        "is only ever windowed per (key, _salt) — no single-task hot key.",
        apply_rate_limit(
            res.decided.select(
                "trace_id", "service_name", "decision", "decision_policy"
            ),
            "service_name",
            50,
        ),
    )

    from otel_tail_sampler_spark.operators import dedup as D

    # pre-spread to session parallelism: at lake scale inputs plan many
    # splits, so the operators' conditional spread_small_input never fires —
    # pre-spreading here captures that (pure) plan shape instead of the
    # tiny-file adaptation
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).repartition(8)
    cand = D.minhash_lsh_pairs(docs, num_hashes=12, bands=6).select("id_a", "id_b")
    section(
        "Candidates-first n-gram Jaccard verify",
        "What to check: every join touching the shingle column also keys on a\n"
        "doc id — the quadratic shingle self-join does not exist in this plan\n"
        "(it would appear as `sh = sh` with no id equality).",
        D.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cand),
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).repartition(8)
    from otel_tail_sampler_spark.operators.similarity import ivf_topk

    q = emb.limit(2).selectExpr("vec_id as query_id", "embedding as query_vec")
    section(
        "IVF ANN probe join",
        "What to check: centroids are literals (no broadcast, no second scan\n"
        "of the corpus for training inside this plan); the probe join keys on\n"
        "the int cluster id; exact re-rank windows only the probed candidates.",
        ivf_topk(emb, q, k=5, n_clusters=4, nprobe=2),
    )

    section(
        "Banded-LSH embedding near-dup",
        "What to check: candidate generation is an equi-join on (band, key)\n"
        "— no CartesianProduct / BroadcastNestedLoopJoin anywhere; the wide\n"
        "embedding column is ABSENT from the candidate join and only joins\n"
        "back after the pair set is distinct'd (vectors never ride the band\n"
        "explosion).",
        D.embedding_dup_pairs_lsh(emb, dim=64, threshold=0.4),
    )

    from otel_tail_sampler_spark.plans import silver as SV

    spark.sql("DROP TABLE IF EXISTS plan_audit_silver")
    SV.materialize_parsed(
        spark, paths["tokenized"], "plan_audit_silver", buckets=8,
        path=os.path.join(REPO, ".data", "plan_audit_silver"),
    )
    section(
        "Silver bucketed re-assembly",
        "What to check: NO Exchange between the bucketed scan and the final\n"
        "HashAggregate — the table's bucket spec (trace_k1, trace_k2) equals\n"
        "the group key, so re-decide runs never pay the assembly shuffle.",
        SV.assemble_from_silver(spark, "plan_audit_silver"),
    )
    spark.sql("DROP TABLE IF EXISTS plan_audit_silver")

    from otel_tail_sampler_spark.operators.text import winnow_fingerprints

    section(
        "Winnowing fingerprints",
        "What to check: NO Exchange in the plan — the algorithm is\n"
        "per-document-local, so it is one Arrow-batched python stage\n"
        "pipelined with the scan (per-doc dedup happens inside the stage).",
        winnow_fingerprints(docs),
    )

    from otel_tail_sampler_spark.operators.packing import pack_sequences

    section(
        "Sequence packing",
        "What to check: exactly TWO shuffle exchanges — the hash partition\n"
        "on the DETERMINISTIC bucket id feeding the per-bucket offset window\n"
        "(pure function of doc_id + sampled-once boundary literals; no\n"
        "repartitionByRange, no InMemoryRelation pin) and the example-id\n"
        "aggregation that moves each token once — plus ONE BroadcastExchange\n"
        "of the driver-built per-bucket offsets (a LocalTableScan).\n"
        "NO python stage anywhere:\n"
        "piece-cutting is sequence/explode/slice JVM expressions, and the\n"
        "Generate is per document x example intersection (<= n/max_len + 1\n"
        "rows per doc), never per token.",
        pack_sequences(spark.read.parquet(paths["tokenized"]), max_len=256),
    )

    from otel_tail_sampler_spark.operators.corpus import remap_rare_tokens

    section(
        "Rare-token UNK remap",
        "What to check: ZERO Exchange — the remap is one Arrow stage over\n"
        "the scan with the rare-type set broadcast (vocabulary-bounded);\n"
        "the corpus-sized posexplode/reassembly of the first formulation is\n"
        "gone. (The vocabulary histogram that builds the rare set is a\n"
        "separate, already-run job and never appears in this plan.)",
        remap_rare_tokens(spark.read.parquet(paths["tokenized"]), min_freq=2),
    )

    section(
        "Duplicated token-window detection",
        "What to check: the exploded stream carries (id, start, 32-hex) —\n"
        "the token arrays themselves never shuffle; one partial/final\n"
        "HashAggregate pair on the span hash feeds the join back; no self\n"
        "join of the corpus.",
        D.dup_token_spans(
            spark.read.parquet(paths["tokenized"]).repartition(8),
            window=16, stride=8,
        ),
    )

    section(
        "Token-window dup TRIM",
        "What to check: NO Window node anywhere — the first-occurrence\n"
        "election is groupBy(_h).agg(min(struct(id, start)), count), a\n"
        "partial/final HashAggregate pair that combines map-side, so a\n"
        "boilerplate span duplicated across millions of docs never\n"
        "serializes through one window task; the join back onto the slim\n"
        "(id, start, hash) stream is an AQE-splittable equi-join; token\n"
        "arrays only appear in the final per-doc mask filter.",
        D.trim_dup_spans(
            spark.read.parquet(paths["tokenized"]).repartition(8),
            window=16, stride=8,
        ),
    )

    from otel_tail_sampler_spark.operators.corpus import (
        build_bigram_model,
        chunk_documents,
        score_bigram_novelty,
        stratified_sample,
    )
    from otel_tail_sampler_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk,
    )
    from pyspark.sql import functions as F

    tokdf = spark.read.parquet(paths["tokenized"])
    section(
        "FIM transform + MLM mask + context chunking (augment tier)",
        "What to check: ZERO Exchange, ZERO Python — all three document\n"
        "rewrites (PSM fill-in-the-middle, per-position mask, sliding\n"
        "window chunks) are scan-time slice/concat/sequence projections\n"
        "inside one WholeStageCodegen span. (Chunking shown; the other two\n"
        "compose into the same single-stage shape.)",
        chunk_documents(tokdf, max_len=64, stride=48),
    )
    section(
        "Bigram-novelty scoring (model pre-built)",
        "What to check: ZERO Exchange — the capped model is broadcast\n"
        "(collected eagerly by score_bigram_novelty) and the corpus is\n"
        "scored in one Arrow-batched stage over the scan; the corpus\n"
        "never shuffles. The model BUILD is a separate vocabulary-bounded\n"
        "two-phase count job, same shape as the vocab histogram.",
        score_bigram_novelty(tokdf, build_bigram_model(tokdf, 1000)),
    )
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).repartition(8)
    section(
        "Quantized ANN top-k",
        "What to check: corpus side scans + quantizes in place (the\n"
        "round-robin Exchange under it is the capture harness's\n"
        "pre-spread of the tiny sf0.001 file — at lake scale the scan\n"
        "plans many splits and no such exchange exists), query side\n"
        "BroadcastExchange only, and the single hash exchange is the\n"
        "per-query top-k window over scored pairs — the same movement\n"
        "cosine_topk needs. WindowGroupLimit top-k-prunes map-side\n"
        "before that exchange; scoring is exact int64 arithmetic (no\n"
        "Python).",
        quantized_topk(
            quantize_embeddings(emb),
            quantize_embeddings(
                emb.filter(F.col("vec_id") < 4)
            ).withColumnRenamed("vec_id", "query_id"),
            k=5,
            query_id="query_id",
        ),
    )
    from otel_tail_sampler_spark.operators.packing import (
        pack_documents_greedy,
    )

    section(
        "Greedy no-split packing",
        "What to check: ONE exchange (the deterministic md5 bucket id)\n"
        "feeding ONE FlatMapGroupsInPandas — the close-on-overflow\n"
        "recurrence is inherently sequential per bucket, so the Python\n"
        "stage is the design, not a regression; buckets are md5-uniform\n"
        "(no hot task) and sized by n_buckets to fit executor memory.",
        pack_documents_greedy(tokdf, max_len=256, n_buckets=8),
    )

    section(
        "Stratified per-group quota sample",
        "What to check: the exchange below the exact per-group window\n"
        "moves ONLY the <= quota * SALT_BUCKETS survivors of the salted\n"
        "first-level rank (group, salt) — a hot group spreads over\n"
        "SALT_BUCKETS (64) tasks and is pre-filtered before any single task\n"
        "sees it whole; same scheme as the rate-limit policy. Spark's\n"
        "WindowGroupLimit additionally top-k-prunes map-side before BOTH\n"
        "exchanges.",
        stratified_sample(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), quota=10
        ),
    )

    from otel_tail_sampler_spark.operators.dedup import dedup_lines

    section(
        "Global line dedup (C4 boilerplate rule)",
        "What to check: NO Window node anywhere — the first-occurrence\n"
        "election over the line hash is a two-phase HashAggregate\n"
        "(min(struct)+count combine map-side; a corpus-wide license\n"
        "header is a hot hash BY CONSTRUCTION and must never serialize\n"
        "through one window task); only the slim (id, pos, md5) triple\n"
        "reaches any exchange (line text stays behind); the rebuild is\n"
        "one JVM positional filter over the split array.",
        dedup_lines(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ),
    )

    from otel_tail_sampler_spark.operators.dedup import (
        apply_dedup,
        minhash_lsh_pairs,
    )
    from otel_tail_sampler_spark.operators.text import token_count_ws

    docs001 = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).withColumn("n_words", token_count_ws(F.col("text")).cast("int"))
    section(
        "Apply near-dup dedup (surviving corpus)",
        "What to check: the final join of docs against the drop list is\n"
        "a BROADCAST hash join (the drop set is members-minus-keepers of\n"
        "the pair graph — orders of magnitude smaller than the corpus);\n"
        "the election is the representatives' map-combinable argmax;\n"
        "components run only over pair-participating ids (singletons\n"
        "never enter label propagation).",
        apply_dedup(
            docs001,
            minhash_lsh_pairs(docs001, num_hashes=12, bands=6).select(
                "id_a", "id_b"
            ),
            metric_col="n_words",
        ),
    )

    from otel_tail_sampler_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
        semantic_dedup,
    )

    q001 = quantize_embeddings(emb)
    cents = kmeans_fit(q001, k=4, iters=1)
    section(
        "k-means assignment (integer Lloyd's)",
        "What to check: PURE PROJECTION — no Join, and no Exchange beyond\n"
        "the capture harness's pre-spread of the tiny sf0.001 file (the\n"
        "round-robin Exchange under the scan; absent at lake scale —\n"
        "tests/test_clustering.py asserts the exchange-free shape on an\n"
        "unspread input); the k centroids ship as literals inside the\n"
        "argmin expression, so assignment is O(k*dim) integer ops per row\n"
        "inside the scan stage.\n"
        "(The fit's per-iteration update is a separate map-combinable\n"
        "groupBy(cluster, pos) whose output is k*dim rows — driver-bounded\n"
        "regardless of corpus size.)",
        kmeans_assign(q001, cents),
    )

    section(
        "SemDeDup within-cluster near-dup removal",
        "What to check: the pair stage is an EQUI-join on the cluster id\n"
        "(no CartesianProduct / BroadcastNestedLoopJoin); the survivor\n"
        "filter is a broadcast-able anti join against the dropped-id set.\n"
        "Per-cluster fan-out is the knob k controls (SemDeDup sizes\n"
        "k ~ N / target cluster size). The assignment frame the plan reads\n"
        "three times is a lazy local checkpoint (Scan ExistingRDD), not an\n"
        "InMemoryRelation: nothing stays cached after the call.",
        semantic_dedup(q001, centroids=cents),
    )

    from otel_tail_sampler_spark.operators.retrieval import bm25_topk

    section(
        "BM25 fixed-point retrieval",
        "What to check: the corpus side is MAP-ONLY — query terms arrive\n"
        "via BroadcastExchange and semi-filter the exploded postings\n"
        "BEFORE any aggregation (no SortMergeJoin, no corpus-sized\n"
        "exchange); tf/df aggregate only matched rows; the final window\n"
        "partitions on query_id over <= |queries| * |matched| rows.",
        bm25_topk(
            tokdf,
            tokdf.filter(F.col("doc_id") < "span-000000000003").select(
                F.col("doc_id").alias("query_id"), "tokens"
            ),
            k=10,
        ),
    )

    from otel_tail_sampler_spark.operators.corpus import ngram_counts

    section(
        "Capped n-gram counts",
        "What to check: the cap plans as TakeOrderedAndProject over a\n"
        "TWO-PHASE hash aggregation (partial_count below the exchange —\n"
        "the shuffle carries one (gram, partial count) row per distinct\n"
        "gram per split, never raw gram occurrences), the once-cast\n"
        "string array sits in its own Project (no CollapseProject\n"
        "re-inline into the shifted slices), and there is no global Sort.",
        ngram_counts(tokdf, n=3, top=1000),
    )

    from otel_tail_sampler_spark.operators.augment import span_corruption
    from otel_tail_sampler_spark.operators.bpe import apply_bpe

    section(
        "BPE apply (learned-tokenizer encode)",
        "What to check: ONE ArrowEvalPython-free mapInPandas stage over\n"
        "the scan — no Exchange anywhere (the merge table rides the\n"
        "closure; per-batch word cache keeps the Python work\n"
        "vocabulary-rate). The learn side is a bounded TakeOrdered\n"
        "collect, not part of this plan.",
        apply_bpe(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
            [("e", "r"), ("er", "</w>")],
        ),
    )
    section(
        "T5 span corruption",
        "What to check: a pure projection chain — no Exchange, no\n"
        "Python stage, and exactly ONE md5 call site (the per-block\n"
        "corruption flags land in their own Project and are referenced,\n"
        "never re-inlined, by the inputs/targets/prefix-count lambdas).",
        span_corruption(tokdf, block=32, span_len=8, rate=0.25),
    )

    from otel_tail_sampler_spark.operators.selection import (
        build_dsir_model,
        dsir_select,
    )

    dsir_model = build_dsir_model(
        tokdf.filter("source = 'svc-00'"), tokdf, n_buckets=1 << 16
    )
    section(
        "DSIR importance selection (score + top-k)",
        "What to check: the corpus is scored in ONE shuffle-free\n"
        "MapInPandas stage over the pruned scan (the bucket model rides\n"
        "a broadcast as two dense arrays; model build + totals are\n"
        "separate bounded jobs), the fixed-point ratio is a pure\n"
        "DECIMAL(38,0) projection, and the selection is\n"
        "TakeOrderedAndProject(k) — the only Window sits above the\n"
        "bounded k rows.",
        dsir_select(tokdf, dsir_model, k=100, n_buckets=1 << 16),
    )

    from otel_tail_sampler_spark.operators.packing import form_batches

    section(
        "Length-bucketed batch formation",
        "What to check: the scan prunes tokens away (only doc_id/n_tok\n"
        "read when the caller drops payloads); offsets arrive via\n"
        "BroadcastHashJoin on a TABLE (plan size independent of bucket\n"
        "count — no literal maps); the ONLY corpus exchange is the hash\n"
        "partition on (bucket, _sub), and every rank window partitions\n"
        "on (bucket, md5-prefix subrange), never bucket alone.",
        form_batches(tokdf, batch_size=32, bucket_edges=(48, 56, 64)).select(
            "doc_id", "n_tok", "bucket", "batch_seq", "pos_in_batch"
        ),
    )

    from otel_tail_sampler_spark.operators.packing import curriculum_order

    section(
        "Curriculum ordering (exact global rank, no global sort)",
        "What to check: NO empty-partition-spec window anywhere — the\n"
        "exact global rank is reconstructed from (metric, md5-prefix\n"
        "subrange) windows plus a BroadcastHashJoin on the offsets\n"
        "table; one corpus exchange on (metric, subrange); a degenerate\n"
        "metric still spreads over 256 subranges.",
        curriculum_order(tokdf, "n_tok", n_phases=4).select(
            "doc_id", "n_tok", "rank", "phase"
        ),
    )

    from otel_tail_sampler_spark.operators.corpus import vocab_coverage

    section(
        "Vocabulary coverage curve",
        "What to check: the type-frequency table aggregates two-phase\n"
        "(partial below the exchange, output vocabulary-bounded); the\n"
        "top-N cut is TakeOrderedAndProject (no full sort); the one\n"
        "single-partition rank window runs over <= max(cutoffs) rows\n"
        "ABOVE that limit; the curve itself is a single agg row\n"
        "stacked + broadcast-joined to totals.",
        vocab_coverage(tokdf, cutoffs=(64, 256, 1024, 4096)),
    )

    from otel_tail_sampler_spark.operators.packing import (
        enforce_token_budget,
        pack_sequences,
        shard_manifest,
    )

    section(
        "Per-source token-budget enforcement",
        "What to check: the running sum windows ONLY over (source,\n"
        "md5-prefix subrange) — never the bare source (a giant source\n"
        "would funnel one task); offsets arrive via BroadcastHashJoin\n"
        "on a table (this audited call passes an int budget, attached\n"
        "as a literal — the dict-budget path joins a second broadcast\n"
        "table); the filter is a codegen comparison above the window.",
        enforce_token_budget(tokdf, 100_000).select(
            "doc_id", "source", "n_tok", "cum_tokens"
        ),
    )

    section(
        "Shard integrity manifest",
        "What to check: the per-example digest is computed map-side\n"
        "BEFORE the shard exchange (tokens never ride the aggregation\n"
        "— the collect_list carries 32-byte digest structs only), and\n"
        "the output is one row per shard.",
        shard_manifest(
            pack_sequences(tokdf, max_len=128),
            n_shards=8,
            id_col="example_id",
        ),
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — captured physical plans of the flagship operators\n\n"
            "Generated by `python scripts/plan_audit.py` (sf0.001, local[8]).\n"
            "Each section states the scale property the plan must exhibit;\n"
            "tests/test_plans.py asserts the load-bearing shapes so they\n"
            "cannot silently regress.\n"
        )
        for title, body in SECTIONS:
            fh.write(f"\n## {title}\n\n{body}\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
