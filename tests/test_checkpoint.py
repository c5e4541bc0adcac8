"""Resumable per-partition checkpoint semantics."""

import duckdb
import pytest

from otel_tail_sampler_spark.plans.checkpoint import (
    MANIFEST_SCHEMA,
    read_manifest,
    run_resumable,
)

N_BUCKETS = 8


def _routed_counts(out_dir):
    return duckdb.sql(
        f"select decision, count(*) n from parquet_scan('{out_dir}/routed/*/*/*.parquet', hive_partitioning=1) group by 1 order by 1"
    ).fetchall()


def test_full_run_then_noop_resume(spark, small_dataset, tmp_path):
    out = str(tmp_path / "out")
    r1 = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert r1.processed_buckets == list(range(N_BUCKETS))
    assert r1.stage_metrics["input_rows"] > 0
    full = _routed_counts(out)

    r2 = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert r2.processed_buckets == [] and r2.skipped_buckets == list(range(N_BUCKETS))
    assert _routed_counts(out) == full


def test_partial_resume_completes_remaining(spark, small_dataset, tmp_path):
    """Simulate a crash after half the buckets committed: pre-mark 0-3 done,
    resume must process exactly 4-7; a later full rewrite (manifest wiped)
    must converge to the same totals as an uninterrupted run."""
    ref_out = str(tmp_path / "ref")
    run_resumable(spark, small_dataset["tokenized"], ref_out, n_buckets=N_BUCKETS)
    want = _routed_counts(ref_out)

    out = str(tmp_path / "resumed")
    fake_done = [(b, "done", 0, 0, N_BUCKETS) for b in range(4)]
    spark.createDataFrame(fake_done, MANIFEST_SCHEMA).write.mode("append").parquet(
        f"{out}/_checkpoint"
    )
    r = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert r.processed_buckets == [4, 5, 6, 7]
    assert r.skipped_buckets == [0, 1, 2, 3]
    assert read_manifest(spark, f"{out}/_checkpoint", N_BUCKETS) == set(
        range(N_BUCKETS)
    )

    # buckets 0-3 were never really written: only 4-7 exist on disk
    got_buckets = set(
        r[0]
        for r in duckdb.sql(
            f"select distinct bucket from parquet_scan('{out}/routed/*/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    )
    assert got_buckets == {4, 5, 6, 7}

    # wipe manifest -> next run rewrites everything idempotently
    import shutil

    shutil.rmtree(f"{out}/_checkpoint")
    r3 = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert r3.processed_buckets == list(range(N_BUCKETS))
    assert _routed_counts(out) == want


def test_resume_with_another_bucket_count_raises(spark, small_dataset, tmp_path):
    """Bucket ids mean different trace sets under another bucket count: a
    resume at 16 over buckets committed at 8 would filter the scan with the
    wrong hash and skip spans it never wrote. It must raise and write
    nothing."""
    out = str(tmp_path / "out")
    r = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert r.processed_buckets == list(range(N_BUCKETS))
    manifest = sorted(
        tuple(row) for row in spark.read.parquet(f"{out}/_checkpoint").collect()
    )
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(spark, small_dataset["tokenized"], out, n_buckets=16)
    assert sorted(
        tuple(row) for row in spark.read.parquet(f"{out}/_checkpoint").collect()
    ) == manifest
    # the recorded count still resumes (nothing left to do)
    again = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    assert again.processed_buckets == []


def test_unreadable_manifest_raises(spark, small_dataset, tmp_path):
    """Only a missing manifest reads as empty. One that fails to read
    raises: read as empty, the resume would redo every bucket."""
    out = tmp_path / "out"
    run_resumable(spark, small_dataset["tokenized"], str(out), n_buckets=N_BUCKETS)
    (out / "_checkpoint" / "junk.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="junk.parquet"):
        read_manifest(spark, str(out / "_checkpoint"), N_BUCKETS)


def test_bucket_is_trace_aligned(spark, small_dataset):
    """All spans of a trace must share a bucket (decisions are per-trace)."""
    from pyspark.sql import functions as F

    from otel_tail_sampler_spark.operators.parser import parse_spans
    from otel_tail_sampler_spark.plans.checkpoint import bucket_col

    spans = parse_spans(spark.read.parquet(small_dataset["tokenized"])).withColumn(
        "bucket", bucket_col(N_BUCKETS)
    )
    multi = (
        spans.groupBy("trace_id")
        .agg(F.countDistinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert multi == 0


def test_resume_preserves_prior_buckets_under_static_overwrite(
    spark, small_dataset, tmp_path
):
    """Resume with earlier buckets' parquet data already on disk, on a session
    whose partitionOverwriteMode is the Spark default (static): the resumed
    write must NOT delete previously committed bucket partitions —
    run_resumable pins dynamic mode itself rather than trusting the caller."""
    import shutil

    out = str(tmp_path / "out")
    run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
    want = _routed_counts(out)

    # forge a crash: manifest says only 0-3 done, but ALL bucket data exists
    shutil.rmtree(f"{out}/_checkpoint")
    fake_done = [(b, "done", 0, 0, N_BUCKETS) for b in range(4)]
    spark.createDataFrame(fake_done, MANIFEST_SCHEMA).write.mode("append").parquet(
        f"{out}/_checkpoint"
    )

    ow_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(ow_key)
    spark.conf.set(ow_key, "static")
    try:
        r = run_resumable(spark, small_dataset["tokenized"], out, n_buckets=N_BUCKETS)
        assert spark.conf.get(ow_key) == "static"  # caller's setting restored
    finally:
        spark.conf.set(ow_key, prev)
    assert r.processed_buckets == [4, 5, 6, 7]
    # ALL buckets still on disk, totals identical to the uninterrupted run
    got_buckets = set(
        row[0]
        for row in duckdb.sql(
            f"select distinct bucket from parquet_scan('{out}/routed/*/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    )
    assert got_buckets == set(range(N_BUCKETS))
    assert _routed_counts(out) == want


def _executed_plans(spark, run):
    """Physical plan descriptions of every SQL execution ``run()`` starts."""
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    listener_bus.waitUntilEmpty(60_000)
    first = store.executionsCount()
    run()
    listener_bus.waitUntilEmpty(60_000)
    seq = store.executionsList()
    return [seq.apply(i).physicalPlanDescription() for i in range(first, seq.size())]


def test_resumable_run_equals_flagship_run(spark, small_dataset, tmp_path):
    """run_resumable runs the flagship DAG: per-sink row counts and the keep
    sink's doc_id -> tokens map equal run_and_write's, and no execution of
    the resumable run has a Python stage."""
    from otel_tail_sampler_spark.operators.policies import (
        CardinalityPolicy,
        ErrorPolicy,
        LatencyPolicy,
        SamplerConfig,
    )
    from otel_tail_sampler_spark.plans.pipeline import run_and_write

    cfg = SamplerConfig(
        error=ErrorPolicy(sample_rate=0.8),
        latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
        cardinality=CardinalityPolicy(max_span_count=100),
    )
    src = small_dataset["tokenized"]
    res_out, flag_out = str(tmp_path / "resumable"), str(tmp_path / "flagship")
    plans = _executed_plans(
        spark, lambda: run_resumable(spark, src, res_out, cfg, n_buckets=N_BUCKETS)
    )
    run_and_write(spark, src, flag_out, cfg)

    assert plans
    for plan in plans:
        for node in ("MapInArrow", "MapInPandas", "EvalPython"):
            assert node not in plan, node

    flag_glob = f"{flag_out}/routed/*/*.parquet"
    res_glob = f"{res_out}/routed/*/*/*.parquet"
    counts = duckdb.sql(
        f"select decision, count(*) n from parquet_scan('{flag_glob}', hive_partitioning=1) group by 1 order by 1"
    ).fetchall()
    assert "keep" in dict(counts)
    assert _routed_counts(res_out) == counts

    def keep_tokens(glob):
        rows = duckdb.sql(
            f"select doc_id, tokens from parquet_scan('{glob}', hive_partitioning=1) where decision = 'keep'"
        ).fetchall()
        return {doc_id: list(tokens) for doc_id, tokens in rows}

    assert keep_tokens(res_glob) == keep_tokens(flag_glob)


def test_corpus_prep_stage_resume(spark, tmp_path):
    """Stage-level resume of the prep DAG: a resumed run with unchanged
    parameters reuses both stage artifacts WITHOUT rescanning the source
    documents (proven by deleting them); changing a downstream parameter
    recomputes only that stage; stale shard partitions cannot survive a
    shrunk n_shards."""
    import shutil

    import duckdb

    from otel_tail_sampler_spark.plans.corpus_prep import run_corpus_prep

    docs_src = "/root/testdata/sf0.001/documents.parquet"
    docs = str(tmp_path / "documents.parquet")
    shutil.copyfile(docs_src, docs)
    out = str(tmp_path / "prep")

    kw = dict(vocab_size=512, max_len=64, n_shards=6, min_words=5)
    m1 = run_corpus_prep(spark, docs, out, **kw)
    assert m1["examples"] > 0

    # source gone: a resumed identical run must succeed purely from the
    # stage artifacts and report identical metrics
    (tmp_path / "documents.parquet").unlink()
    m2 = run_corpus_prep(spark, docs, out, resume=True, **kw)
    assert m2 == m1

    # downstream-only change (n_shards 6 -> 3): tokenize stays reused
    # (docs still deleted), shards recompute, and NO stale shard dirs
    kw3 = dict(kw, n_shards=3)
    m3 = run_corpus_prep(spark, docs, out, resume=True, **kw3)
    assert m3["tokens_out"] == m1["tokens_out"]
    assert m3["examples"] == m1["examples"]  # same packing, new layout
    got_shards = {
        r[0]
        for r in duckdb.sql(
            f"select distinct shard from parquet_scan('{out}/shards/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert got_shards <= set(range(3))

    # upstream change (vocab_size) without the source present must FAIL
    # loudly rather than serve stale artifacts
    import pytest as _pytest

    with _pytest.raises(Exception):
        run_corpus_prep(spark, docs, out, resume=True, **dict(kw, vocab_size=256))

    # restore the source: the upstream change now recomputes end-to-end
    shutil.copyfile(docs_src, docs)
    m4 = run_corpus_prep(spark, docs, out, resume=True, **dict(kw, vocab_size=256))
    assert m4["docs_in"] == m1["docs_in"]
    # vocab change leaves counts identical but must rewrite the artifact:
    # every token id now hashes into [0, 256)
    hi = duckdb.sql(
        f"select max(t) from (select unnest(tokens) as t from "
        f"parquet_scan('{out}/tokenized/*.parquet'))"
    ).fetchone()[0]
    assert hi is not None and hi < 256
