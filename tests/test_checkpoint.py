"""Resume semantics of the batch job: run_and_write resumes by bucket."""

import glob
import json
import os
import shutil

import duckdb
import pytest

from otel_tail_sampler_spark.operators.policies import (
    CardinalityPolicy,
    ErrorPolicy,
    LatencyPolicy,
    SamplerConfig,
    decision_labels,
)
from otel_tail_sampler_spark.plans import pipeline
from otel_tail_sampler_spark.plans.checkpoint import CHECKPOINT, bucket_col
from otel_tail_sampler_spark.plans.pipeline import SINK_NAMES, run_and_write

CFG = SamplerConfig(
    error=ErrorPolicy(sample_rate=0.8),
    latency=LatencyPolicy(threshold_ms=4000, sample_rate=1.0),
    cardinality=CardinalityPolicy(max_span_count=100),
)
N_BUCKETS = 4  # the test session's shuffle partitions
DONE = [0, 2]


def _routed(out_dir):
    return f"parquet_scan('{out_dir}/routed/*/*/*.parquet', hive_partitioning=1)"


def _outputs(out_dir):
    """Everything a run leaves that a resumed run must equal: rows per
    (sink, bucket), the keep sink's doc_id -> tokens, the three metric
    tables (wall-clock rows aside) and the exported trace ids."""
    def table(name):
        rows = duckdb.sql(
            f"select * from parquet_scan('{out_dir}/{name}/*.parquet')"
        ).fetchall()
        return sorted(r for r in rows if r[0] not in ("wall_ms", "finished_at_ms"))

    return {
        "sinks": duckdb.sql(
            f"select decision, bucket, count(*) from {_routed(out_dir)} "
            "group by 1, 2 order by 1, 2"
        ).fetchall(),
        "keep_tokens": {
            doc_id: list(tokens)
            for doc_id, tokens in duckdb.sql(
                f"select doc_id, tokens from {_routed(out_dir)} where decision = 'keep'"
            ).fetchall()
        },
        **{name: table(name) for name in ("metrics_rows", "metrics_decisions", "metrics_run")},
        "exported": sorted(
            r[0] for r in duckdb.sql(
                f"select trace_id from parquet_scan('{out_dir}/exported/*.parquet')"
            ).fetchall()
        ),
    }


def _forge_unfinished(one_shot, out, done, cfg=CFG, copy_all=False):
    """``out`` as a run that failed after committing the buckets ``done``:
    their sink partitions copied from the finished run ``one_shot`` (every
    bucket's with ``copy_all``), and an unfinished checkpoint whose one
    pass holds their counts, counted here with DuckDB."""
    for d in glob.glob(f"{one_shot}/routed/decision=*/bucket=*"):
        if copy_all or int(d.rsplit("=", 1)[1]) in done:
            shutil.copytree(d, os.path.join(out, os.path.relpath(d, one_shot)))
    where = f"bucket in ({', '.join(map(str, done))})"
    rows = dict(duckdb.sql(
        f"select decision, count(*) from {_routed(one_shot)} where {where} group by 1"
    ).fetchall())
    pairs = {
        (p, d): n for p, d, n in duckdb.sql(
            "select decision_policy, decision, count(distinct (trace_k1, trace_k2)) "
            f"from {_routed(one_shot)} where {where} and parse_ok group by 1, 2"
        ).fetchall()
    }
    (traces,) = duckdb.sql(
        "select count(distinct (trace_k1, trace_k2)) "
        f"from {_routed(one_shot)} where {where} and parse_ok"
    ).fetchone()
    counts = {
        "routed_rows": sum(rows.values()),
        **{f"{s}_rows": rows.get(s, 0) for s in SINK_NAMES},
        "traces": traces,
        **{f"pair_{i}": pairs.get(pd_, 0) for i, pd_ in enumerate(decision_labels(cfg))},
    }
    with open(os.path.join(one_shot, CHECKPOINT)) as fh:
        state = json.load(fh)
    state.update(finished=False, passes=[{"buckets": sorted(done), "counts": counts}])
    with open(os.path.join(out, CHECKPOINT), "w") as fh:
        json.dump(state, fh)


@pytest.fixture(scope="module")
def one_shot(spark, small_dataset, tmp_path_factory):
    """A finished one-shot run of CFG over the small dataset."""
    out = str(tmp_path_factory.mktemp("one_shot") / "out")
    run_and_write(spark, small_dataset["tokenized"], out, CFG)
    return out


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


def _crash_after_commit(spark, src, out, cfg=CFG):
    """Run into ``out`` and fail after the routed write commits, before any
    metric table is written."""
    def crash(*args, **kwargs):
        raise RuntimeError("crash before the metric tables")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "local_table", crash)
        with pytest.raises(RuntimeError, match="crash before"):
            run_and_write(spark, src, out, cfg)
    assert not os.path.exists(os.path.join(out, "metrics_rows"))


def test_crash_after_commit_resumes_without_routed_write(
    spark, small_dataset, tmp_path, one_shot
):
    """A run that failed after its sink write committed resumes with no
    routed write: no execution of the rerun scans the input. Its sinks,
    metric tables and exported trace ids equal a one-shot run's."""
    src = small_dataset["tokenized"]
    out = str(tmp_path / "out")
    _crash_after_commit(spark, src, out)
    plans = _executed_plans(spark, lambda: run_and_write(spark, src, out, CFG))
    assert plans
    assert not [p for p in plans if "Scan parquet" in p and src in p]
    assert _outputs(out) == _outputs(one_shot)


def test_resume_with_another_config_raises(spark, small_dataset, tmp_path):
    """An unfinished run resumed with another SamplerConfig would put two
    configs' decisions into one routed/: it raises and writes nothing."""
    src = small_dataset["tokenized"]
    out = tmp_path / "out"
    _crash_after_commit(spark, src, str(out))

    def snapshot():
        return {
            str(f): (f.stat().st_mtime_ns, f.read_bytes())
            for f in out.rglob("*") if f.is_file()
        }

    before = snapshot()
    other = SamplerConfig(
        error=CFG.error, latency=CFG.latency, cardinality=CFG.cardinality,
        rate_limit_per_key=5,
    )
    with pytest.raises(ValueError, match="unfinished run"):
        run_and_write(spark, src, str(out), other)
    assert snapshot() == before


def test_unfinished_run_of_the_old_bucket_function_is_refused(
    spark, small_dataset, tmp_path, one_shot
):
    """An unfinished checkpoint whose inputs lack the bucket keys was
    written under the former bucket function (the trace key plus
    parse_ok): resumed, its done buckets would hold other traces than the
    resume's. It raises the inputs ValueError and writes nothing. Marked
    finished, the same checkpoint starts over."""
    src = small_dataset["tokenized"]
    out = tmp_path / "out"
    _forge_unfinished(one_shot, str(out), DONE)
    path = out / CHECKPOINT
    state = json.loads(path.read_text())
    state["inputs"].pop("bucket_keys", None)
    path.write_text(json.dumps(state))

    def snapshot():
        return {
            str(f): (f.stat().st_mtime_ns, f.read_bytes())
            for f in out.rglob("*") if f.is_file()
        }

    before = snapshot()
    with pytest.raises(ValueError, match="unfinished run"):
        run_and_write(spark, src, str(out), CFG)
    assert snapshot() == before

    path.write_text(json.dumps(dict(state, finished=True)))
    run_and_write(spark, src, str(out), CFG)
    assert _outputs(str(out)) == _outputs(one_shot)


def test_partial_resume_completes_remaining(spark, small_dataset, tmp_path, one_shot):
    """A resume from a checkpoint that marks some buckets done writes only
    the others and leaves the done ones on disk as they were; the result
    equals a one-shot run. A rerun of the finished run starts over and
    converges to the same outputs."""
    src = small_dataset["tokenized"]
    out = str(tmp_path / "resumed")
    _forge_unfinished(one_shot, out, DONE)

    def files(buckets):
        return {
            f: os.stat(f).st_mtime_ns
            for b in buckets
            for f in glob.glob(f"{out}/routed/decision=*/bucket={b}/*.parquet")
        }

    done_files = files(DONE)
    assert done_files
    run_and_write(spark, src, out, CFG)
    rest = [b for b in range(N_BUCKETS) if b not in DONE]
    assert files(DONE) == done_files
    assert files(rest)
    with open(os.path.join(out, CHECKPOINT)) as fh:
        state = json.load(fh)
    assert state["finished"]
    assert [p["buckets"] for p in state["passes"]] == [DONE, rest]
    assert _outputs(out) == _outputs(one_shot)

    run_and_write(spark, src, out, CFG)
    assert _outputs(out) == _outputs(one_shot)


def test_resume_with_another_bucket_count_plans_the_recorded_one(
    spark, small_dataset, tmp_path, one_shot
):
    """A checkpoint started at 4 shuffle partitions and resumed on a session
    at 2 keeps its 4 buckets: the route's exchange is planned at 4, each
    (sink, bucket) partition holds one file, and the sinks and metric
    tables equal a one-shot run's."""
    src = small_dataset["tokenized"]
    out = str(tmp_path / "out")
    _forge_unfinished(one_shot, out, DONE)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        plans = _executed_plans(spark, lambda: run_and_write(spark, src, out, CFG))
    finally:
        spark.conf.set(key, prev)
    assert "hashpartitioning(" in plans[0] and ", 4), REPARTITION" in plans[0], plans[0]
    dirs = glob.glob(f"{out}/routed/decision=*/bucket=*")
    assert {d.rsplit("=", 1)[1] for d in dirs} == {str(b) for b in range(N_BUCKETS)}
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    assert _outputs(out) == _outputs(one_shot)


def test_unreadable_manifest_raises(spark, small_dataset, tmp_path):
    """Only a missing checkpoint starts a run over. One that fails to read
    raises and names the file: read as absent, the run would redo every
    bucket, and as finished it would hide an unfinished run."""
    out = tmp_path / "out"
    out.mkdir()
    (out / CHECKPOINT).write_bytes(b"not json")
    with pytest.raises(ValueError, match=CHECKPOINT):
        run_and_write(spark, small_dataset["tokenized"], str(out), CFG)


def test_checkpoint_edited_outside_the_job_raises(spark, small_dataset, tmp_path):
    """A checkpoint rewritten by anything but the job (here a plain open())
    no longer matches the checksum file the job wrote beside it. The rerun
    raises ValueError naming the checkpoint, not a Hadoop checksum error."""
    src = small_dataset["tokenized"]
    out = str(tmp_path / "out")
    _crash_after_commit(spark, src, out)
    path = os.path.join(out, CHECKPOINT)
    with open(path) as fh:
        state = json.load(fh)
    with open(path, "w") as fh:
        json.dump(state, fh, indent=1)
    with pytest.raises(ValueError, match=CHECKPOINT):
        run_and_write(spark, src, out, CFG)


def test_marker_rewrite_replaces_whole(spark, tmp_path):
    """write_marker replaces a marker through a temp file: a rewrite reads
    back whole and leaves no temp file, and a temp file left by a write
    that crashed before its rename does not touch the marker."""
    from otel_tail_sampler_spark.functions.fs import read_marker, write_marker

    path = str(tmp_path / "_m.json")
    write_marker(spark, path, {"n": 1})
    write_marker(spark, path, {"n": 22})
    assert read_marker(spark, path) == {"n": 22}
    assert sorted(os.listdir(tmp_path)) == ["._m.json.crc", "_m.json"]
    (tmp_path / "_m.json.tmp").write_text('{"n": 3')
    assert read_marker(spark, path) == {"n": 22}


def test_bucket_is_trace_aligned(spark, one_shot):
    """Every routed row's bucket is bucket_col, Spark's bucket id on the
    trace key, so all rows of a key share a bucket (decisions are
    per-trace), and a one-shot run writes one file per (sink, bucket): the
    bucket is the partition of the route's exchange."""
    from pyspark.sql import functions as F

    routed = spark.read.parquet(f"{one_shot}/routed")
    assert routed.filter(F.col("bucket") != bucket_col(N_BUCKETS)).count() == 0
    split = duckdb.sql(
        "select count(*) from (select trace_k1, trace_k2 "
        f"from {_routed(one_shot)} group by 1, 2 "
        "having count(distinct bucket) > 1)"
    ).fetchone()[0]
    assert split == 0
    dirs = glob.glob(f"{one_shot}/routed/decision=*/bucket=*")
    assert dirs
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_resume_preserves_prior_buckets_under_static_overwrite(
    spark, small_dataset, tmp_path, one_shot
):
    """Resume with every bucket's data already on disk, on a session whose
    partitionOverwriteMode is static: the resumed write must NOT delete
    the buckets committed before — run_and_write pins dynamic mode at the
    resumed write rather than trusting the session."""
    out = str(tmp_path / "out")
    _forge_unfinished(one_shot, out, DONE, copy_all=True)
    ow_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(ow_key)
    spark.conf.set(ow_key, "static")
    try:
        run_and_write(spark, small_dataset["tokenized"], out, CFG)
        assert spark.conf.get(ow_key) == "static"  # the session is left as is
    finally:
        spark.conf.set(ow_key, prev)
    assert _outputs(out) == _outputs(one_shot)


def test_resumable_run_equals_flagship_run(spark, small_dataset, tmp_path, one_shot):
    """A resumed run runs the flagship DAG: its per-sink row counts and the
    keep sink's doc_id -> tokens map equal the one-shot run's, and no
    execution of the resume has a Python stage."""
    out = str(tmp_path / "resumed")
    _forge_unfinished(one_shot, out, DONE)
    plans = _executed_plans(
        spark, lambda: run_and_write(spark, small_dataset["tokenized"], out, CFG)
    )
    assert plans
    for plan in plans:
        for node in ("MapInArrow", "MapInPandas", "EvalPython"):
            assert node not in plan, node
    got, want = _outputs(out), _outputs(one_shot)
    assert "keep" in {sink for sink, _ in want["metrics_rows"]}
    assert got["metrics_rows"] == want["metrics_rows"]
    assert got["keep_tokens"] == want["keep_tokens"]


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
