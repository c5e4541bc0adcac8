"""Benchmark of the tail-sampling job: one workload per process on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload skewed_lake --seed 1 --seconds 7 --trace 0

Set-up generates the workload's dataset from the seed, starts the session and
warms the job up at its own size. The run then times complete jobs in a closed
loop, one job at a time, until ``--seconds`` have passed, and checks every
job's outputs against an oracle computed independently of the program
(``oracle.py``). ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs traced jobs instead and reports the per-layer metrics (``layers.py``).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.getcwd()
# The driver JVM runs every executor thread (local mode); this heap fits the
# workloads' sizes with room to spare on a 4-core, 15 GiB host.
DRIVER_MEMORY = "3g"
# run_streaming_pipeline's defaults, restated for the watermark oracle.
GAP_SECONDS = 30
WATERMARK_DELAY_S = 10


@dataclass(frozen=True)
class Workload:
    kind: str  # "batch": run_and_write jobs; "stream": bounded streaming runs
    spec: dict  # GenSpec keyword arguments (the seed is added)
    conf: dict = field(default_factory=dict)  # session settings beyond defaults


WORKLOADS = {
    # bench0.1's heavy-hitter shape (1% of traces carry 2,000 spans) at a
    # tenth of its trace count, with broadcast joins off: the route stage is
    # the SortMergeJoin a lake-sized kept set runs. Every seed yields exactly
    # 120 heavy traces (299,400 spans), see _generator_seed.
    "skewed_lake": Workload(
        kind="batch",
        spec=dict(n_traces=12_000, heavy_frac=0.01, heavy_spans=2000),
        conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    # sf0.1's uniform shape (5 spans per trace) at a fifth of its trace
    # count, in the generator's 8 files: 9 micro-batches through the
    # bucketed applyInPandasWithState state. Warm-up is one run that reads
    # all files in one micro-batch: it compiles the same plan and starts
    # the Python workers in half the time of a cold 9-batch run.
    "streaming_state": Workload(
        kind="stream",
        spec=dict(n_traces=24_000),
    ),
}

BATCH_LAYERS = (
    ("scan.self_s", "s", "lower"), ("scan.rows", "count", "lower"),
    ("scan.bytes", "B", "lower"), ("scan.tasks", "count", "lower"),
    ("parser.self_s", "s", "lower"), ("parser.rows_out", "count", "lower"),
    ("parser.malformed_rows", "count", "lower"),
    ("assembly.self_s", "s", "lower"), ("assembly.shuffle_bytes", "B", "lower"),
    ("assembly.shuffle_records", "count", "lower"),
    ("assembly.spill_bytes", "B", "lower"), ("assembly.task_skew", "ratio", "lower"),
    ("assembly.traces_out", "count", "lower"),
    ("policies.self_s", "s", "lower"), ("policies.kept_traces", "count", "lower"),
    ("policies.route_build_rows", "count", "lower"),
    ("routing.self_s", "s", "lower"), ("routing.broadcast_bytes", "B", "lower"),
    ("routing.shuffle_bytes", "B", "lower"), ("routing.task_skew", "ratio", "lower"),
    ("routing.rows_out", "count", "lower"),
    ("sink.self_s", "s", "lower"), ("sink.rows", "count", "lower"),
    ("sink.bytes", "B", "lower"), ("sink.files", "count", "lower"),
    ("sink.aux_s", "s", "lower"),
)
COMMON_LAYERS = (
    ("pipeline.spans_per_s", "spans/s", "higher"), ("pipeline.batch_s_p50", "s", "lower"),
    ("pipeline.jobs", "count", "lower"), ("pipeline.tasks", "count", "lower"),
    ("pipeline.core_busy_frac", "ratio", "higher"), ("pipeline.gc_s", "s", "lower"),
)
STREAM_LAYERS = (
    ("stream.batches", "count", "lower"), ("stream.add_batch_s", "s", "lower"),
    ("stream.planning_s", "s", "lower"), ("stream.wal_commit_s", "s", "lower"),
    ("stream.state_update_s", "s", "lower"), ("stream.state_commit_s", "s", "lower"),
    ("stream.state_rows", "count", "lower"), ("stream.state_mem_bytes", "B", "lower"),
    ("stream.traces_emitted", "count", "higher"),
    ("stream.late_rows_dropped", "count", "lower"),
)
TRACE_LAYERS = (("trace.overhead_s", "s", "lower"), ("jvm.peak_rss_mb", "MB", "lower"))
PER_LAYER = BATCH_LAYERS + COMMON_LAYERS + STREAM_LAYERS + TRACE_LAYERS
UNITS = {name: unit for name, unit, _ in PER_LAYER}
# Wall-clock throughput is reported too (WALL), but not gated: on a shared
# virtual machine its spread over seeds reached 0.32 of the median, more
# than any bound this benchmark may set. CPU seconds leave out the time the
# hypervisor gives other guests; see README.md.
END_TO_END = {"spans_per_cpu_s": "spans/cpu_s", "setup_s": "s"}
WALL = {"spans_per_s": "spans/s", "batch_s_p50": "s"}


@dataclass
class Sample:
    seconds: float  # the timed job (or bounded streaming run)
    spans: int  # input span rows the job consumed
    mismatches: int  # outputs that differ from the oracle
    cpu_s: float = 0.0  # CPU seconds of the job's processes (not traced batch jobs)
    batches: list[float] = field(default_factory=list)  # micro-batch seconds
    layers: dict[str, float] = field(default_factory=dict)


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _generator_seed(seed: int, spec: dict) -> int:
    """The first of seed*10000, seed*10000+1, ... whose heavy-hitter draw
    marks exactly round(n_traces * heavy_frac) traces heavy, so the input
    size is the same for every seed and only the content varies. Mirrors
    the generator's first draw (``generate_fields``); a seed is returned
    as is when the spec has no heavy hitters."""
    import numpy as np

    frac = spec.get("heavy_frac", 0.0)
    if not frac:
        return seed
    n = spec["n_traces"]
    for k in range(10_000):
        cand = seed * 10_000 + k
        rng = np.random.Generator(np.random.PCG64(cand))
        if int((rng.random(n) < frac).sum()) == round(n * frac):
            return cand
    raise RuntimeError(f"no generator seed with the expected heavy count for {seed}")


def _preflight() -> None:
    """Fail fast, without a result, when the program is not beside us."""
    for rel in ("otel_tail_sampler_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from the "
                     "repository root")


def _configure_env(work: str) -> dict[str, str]:
    """Host fit, set before the JVM starts: Python workers import the package
    from the checkout, use this interpreter, and every temporary file stays in
    the work directory (JVM perf-data files are off)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return env


class Bench:
    def __init__(self, name: str, seed: int, work: str):
        from otel_tail_sampler_spark.sources.generator import GenSpec

        self.name, self.wl, self.work = name, WORKLOADS[name], work
        self.spec = GenSpec(seed=_generator_seed(seed, self.wl.spec), **self.wl.spec)
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.stores = None
        self.jobs_run = 0

    # -- set-up -----------------------------------------------------------
    def set_up(self, traced: bool) -> dict:
        from __spark_entry__ import ENTRY_CFG
        from oracle import expected_outputs
        from otel_tail_sampler_spark.session import build_session
        from otel_tail_sampler_spark.sources.generator import generate_dataset

        self.cfg = ENTRY_CFG
        t0 = time.perf_counter()
        self.paths = generate_dataset(self.spec, os.path.join(self.work, "data"))
        gen_s = time.perf_counter() - t0
        # the oracle is the harness's own work: kept out of set-up time
        self.expected = expected_outputs(self.paths["oracle"], self.paths["tokenized"],
                                         self.cfg)
        t1 = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
            **self.wl.conf,
        }
        self.spark = build_session(master=f"local[{self.cores}]",
                                   shuffle_partitions=self.cores, extra_conf=conf)
        session_s = time.perf_counter() - t1
        from layers import Stores

        self.stores = Stores(self.spark)
        t2 = time.perf_counter()
        draws = self._warm_up(traced)
        if traced:
            # compile what a traced job runs beyond the untraced one: the
            # noop frames of the batch job and, for a batch workload, the
            # streaming path
            draws.append(self._checked(self._traced_batch_job()))
            if self.wl.kind == "batch":
                draws.append(self._checked(self._stream_job(files_per_trigger=None)))
        warm_s = time.perf_counter() - t2
        return {"gen_s": gen_s, "session_s": session_s, "warmup_s": warm_s,
                "warmup_draws_s": draws, "setup_s": gen_s + session_s + warm_s,
                "session_conf": conf}

    def _warm_up(self, traced: bool) -> list[float]:
        """Untraced batch jobs until two consecutive draws agree within 20%,
        three to four of them: the first draw of a process compiles the
        job's plans and runs about 3x steady time, the second about 1.3x."""
        if self.wl.kind == "stream":
            return [self._checked(self._stream_job(files_per_trigger=None))]
        if traced:  # layers, not job times: one draw compiles the job
            return [self._checked(self.job())]
        draws: list[float] = []
        while len(draws) < 4:
            draws.append(self._checked(self.job()))
            if len(draws) >= 3 and abs(draws[-1] - draws[-2]) <= 0.2 * draws[-2]:
                break
        return draws

    @staticmethod
    def _checked(s: "Sample") -> float:
        if s.mismatches:
            raise RuntimeError(f"warm-up job differs from the oracle in "
                               f"{s.mismatches} outputs")
        return s.seconds

    # -- one timed job ------------------------------------------------------
    def _out(self) -> str:
        self.jobs_run += 1
        return os.path.join(self.work, f"out{self.jobs_run}")

    def job(self) -> Sample:
        return self._batch_job() if self.wl.kind == "batch" else self._stream_job()

    def traced_job(self) -> Sample:
        """The workload's own path, traced, then the other path over the same
        input, so every layer is measured on every workload. The other path
        gives only the layers the own path lacks: a batch workload streams its
        input in one micro-batch, a streaming workload runs the batch job."""
        if self.wl.kind == "batch":
            own, other = self._traced_batch_job(), self._stream_job(
                traced=True, files_per_trigger=None)
        else:
            own, other = self._stream_job(traced=True), self._traced_batch_job()
        own.mismatches += other.mismatches
        own.layers = {**other.layers, **own.layers,
                      **{f"pipeline.{k}": v for k, v in _wall([own]).items()}}
        return own

    def _batch_job(self) -> Sample:
        from oracle import check_batch_outputs
        from otel_tail_sampler_spark.plans.pipeline import run_and_write

        out = self._out()
        try:
            t, c = time.perf_counter(), _tree_cpu_s()
            run_and_write(self.spark, self.paths["tokenized"], out, self.cfg)
            dt, dc = time.perf_counter() - t, _tree_cpu_s() - c
            bad = check_batch_outputs(out, self.expected)
        finally:
            self._clean(out)
        return Sample(seconds=dt, spans=self.expected.n_spans, mismatches=bad, cpu_s=dc)

    def _stream_job(self, traced: bool = False, files_per_trigger: int | None = 1) -> Sample:
        from oracle import check_stream_outputs
        from otel_tail_sampler_spark.streaming.stream_job import run_streaming_pipeline

        out = self._out()
        try:
            t0 = time.perf_counter()
            win = self.stores.window() if traced else None
            t, c = time.perf_counter(), _tree_cpu_s()
            q = run_streaming_pipeline(
                self.spark, self.paths["tokenized"], out, self.cfg,
                gap_seconds=GAP_SECONDS, watermark_delay=f"{WATERMARK_DELAY_S} seconds",
                strategy="state", max_files_per_trigger=files_per_trigger,
            )
            dt, dc = time.perf_counter() - t, _tree_cpu_s() - c
            progress = [json.loads(p.json) for p in q.recentProgress]
            bad, emitted = check_stream_outputs(out, self.expected, GAP_SECONDS * 1000,
                                                WATERMARK_DELAY_S * 1000)
            spans = sum(p["numInputRows"] for p in progress)
            bad += spans != self.expected.n_spans
            sample = Sample(seconds=dt, spans=spans, mismatches=bad, cpu_s=dc,
                            batches=[p["batchDuration"] / 1000 for p in progress])
            if traced:
                sample.layers = {**_stream_layers(progress, emitted),
                                 **self._pipeline_layers(win, dt)}
                sample.layers["trace.overhead_s"] = time.perf_counter() - t0 - dt
        finally:
            self._clean(out)
        return sample

    def _traced_batch_job(self) -> Sample:
        """Materialize run_pipeline's own frames in pipeline order into noop
        sinks, then run the real job; see README.md for the layer algebra."""
        from layers import stage_sums
        from oracle import check_batch_outputs
        from otel_tail_sampler_spark.plans.pipeline import (
            read_tokenized,
            run_and_write,
            run_pipeline,
        )
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        src = self.paths["tokenized"]
        out = self._out()
        rows = F.count(F.lit(1)).alias("rows")
        try:
            t0 = time.perf_counter()
            res = run_pipeline(self.spark, src, self.cfg)
            o_scan, o_parse, o_routed = (Observation(n) for n in ("scan", "parser", "routing"))
            scan_t, scan_st, scan_ex = self._noop(
                read_tokenized(self.spark, src).observe(o_scan, rows))
            spans_t, _, _ = self._noop(res.spans.observe(
                o_parse, rows, F.sum((~F.col("parse_ok")).cast("long")).alias("malformed")))
            traces_t, _, _ = self._noop(res.traces)
            decided_t, _, _ = self._noop(res.decided)
            # the slim frame the product persists: Catalyst prunes the
            # summary to the decision's inputs, so this is the assembly
            # exchange the real job runs (and it fills the cache)
            dec_t, dec_st, _ = self._noop(res.decisions)
            routed_t, rt_st, rt_ex = self._noop(res.routed.observe(o_routed, rows))
            traces, kept, build = res.decisions.agg(
                F.count(F.lit(1)),
                F.sum((F.col("decision") == "keep").cast("long")),
                F.sum(((F.col("decision") != "drop")
                       | (F.col("decision_policy") != "no_policy_matched")).cast("long")),
            ).first()
            res.decisions.unpersist(blocking=True)

            job_w = self.stores.window()
            t = time.perf_counter()
            run_and_write(self.spark, src, out, self.cfg)
            dt = time.perf_counter() - t
            bad = check_batch_outputs(out, self.expected)
            sink_exec = job_w.executions_list()[0]  # the partitioned routed write
            sink_cum = (sink_exec.completionTime().get().getTime()
                        - sink_exec.submissionTime()) / 1000
            sk = stage_sums(self.stores.execution_stages(sink_exec))
            scan, dec, rt = stage_sums(scan_st), stage_sums(dec_st), stage_sums(rt_st)
            routing_self = routed_t - spans_t
            layers = {
                "scan.self_s": scan_t, "scan.rows": o_scan.get["rows"],
                "scan.bytes": sum(self.stores.plan_bytes(e, "Scan parquet", "size of files read")
                                  for e in scan_ex),
                "scan.tasks": scan["numTasks"],
                "parser.self_s": spans_t - scan_t,
                "parser.rows_out": o_parse.get["rows"],
                "parser.malformed_rows": o_parse.get["malformed"] or 0,
                "assembly.self_s": traces_t - spans_t,
                "assembly.shuffle_bytes": dec["shuffleWriteBytes"],
                "assembly.shuffle_records": dec["shuffleWriteRecords"],
                "assembly.spill_bytes": dec["diskBytesSpilled"],
                "assembly.task_skew": self._skew(dec_st),
                "assembly.traces_out": traces,
                "policies.self_s": decided_t - traces_t,
                "policies.kept_traces": kept, "policies.route_build_rows": build,
                "routing.self_s": routing_self,
                "routing.broadcast_bytes": sum(
                    self.stores.plan_bytes(e, "BroadcastExchange", "data size") for e in rt_ex),
                "routing.shuffle_bytes": rt["shuffleWriteBytes"],
                "routing.task_skew": self._skew(rt_st),
                "routing.rows_out": o_routed.get["rows"],
                "sink.self_s": sink_cum - dec_t - routing_self,
                "sink.rows": sk["outputRecords"], "sink.bytes": sk["outputBytes"],
                "sink.files": _count_files(os.path.join(out, "routed")),
                "sink.aux_s": dt - sink_cum,
                **self._pipeline_layers(job_w, dt),
            }
            layers["trace.overhead_s"] = time.perf_counter() - t0 - dt
        finally:
            self._clean(out)
        return Sample(seconds=dt, spans=self.expected.n_spans, mismatches=bad,
                      layers=layers)

    def _noop(self, df) -> tuple[float, list, list]:
        """Wall time of one frame into a noop sink, with its stages and SQL
        execution ids."""
        win = self.stores.window()
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        return dt, win.stages(), [e.executionId() for e in win.executions_list()]

    def _skew(self, stages: list) -> float:
        from layers import shuffle_reader

        reader = shuffle_reader(stages)
        return self.stores.task_skew(reader) if reader is not None else 1.0

    def _pipeline_layers(self, win, wall_s: float) -> dict[str, float]:
        from layers import stage_sums

        s = stage_sums(win.stages())
        return {
            "pipeline.jobs": float(win.jobs()),
            "pipeline.tasks": s["numTasks"],
            "pipeline.core_busy_frac": s["executorRunTime"] / 1000 / (wall_s * self.cores),
            "pipeline.gc_s": s["jvmGcTime"] / 1000,
        }

    def _clean(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        if self.spark is not None:
            self.spark.catalog.clearCache()

    # -- teardown -------------------------------------------------------------
    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not reported for the JVM")

    def close(self) -> None:
        """Stop the session, then the JVM (and its Python workers), and wait."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def _count_files(path: str) -> float:
    return float(sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs))


def _stream_layers(progress: list[dict], emitted: int) -> dict[str, float]:
    def total(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000

    ops = [op for p in progress for op in p["stateOperators"]]
    return {
        "stream.batches": float(len(progress)),
        "stream.add_batch_s": total("addBatch"),
        "stream.planning_s": total("queryPlanning"),
        "stream.wal_commit_s": total("walCommit") + total("commitOffsets"),
        "stream.state_update_s": sum(o["allUpdatesTimeMs"] for o in ops) / 1000,
        "stream.state_commit_s": sum(o["commitTimeMs"] for o in ops) / 1000,
        "stream.state_rows": float(max((o["numRowsTotal"] for o in ops), default=0)),
        "stream.state_mem_bytes": float(max((o["memoryUsedBytes"] for o in ops), default=0)),
        "stream.traces_emitted": float(emitted),
        "stream.late_rows_dropped": float(sum(o["numRowsDroppedByWatermark"] for o in ops)),
    }


def _wall(samples: list[Sample]) -> dict[str, float]:
    """Median spans per wall second, and the median micro-batch duration of
    streaming runs (of batch jobs: the median job duration)."""
    if not samples:
        return {name: 0.0 for name in WALL}
    batches = [b for s in samples for b in s.batches] or [s.seconds for s in samples]
    return {"spans_per_s": statistics.median(s.spans / s.seconds for s in samples),
            "batch_s_p50": statistics.median(batches)}


def _tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every process under it: the Spark JVM and its Python workers. A
    hypervisor's steal time is not in them, so they vary less than wall time
    on a shared host."""
    ppid, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while /proc was listed
            continue
        ppid[int(d)] = int(f[1])
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    """The aggregate CPU line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time a hypervisor gave to other guests between two
    readings (the 8th field is steal). Timings from a window with much of
    it are slower for reasons outside the program."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta)


def _measure(job, seconds: float) -> tuple[list[Sample], int, int, int]:
    """Closed loop: start the next job only when the previous one is done,
    until ``seconds`` have passed (at least one job). A job that raises or
    differs from the oracle is failed and gives no timing."""
    deadline = time.perf_counter() + seconds
    samples, attempted, failed, mismatches = [], 0, 0, 0
    while True:
        attempted += 1
        try:
            s = job()
        except Exception:  # the loop must go on and count the failure
            traceback.print_exc(file=sys.stderr)
            failed += 1
        else:
            if s.mismatches:
                failed += 1
                mismatches += s.mismatches
            else:
                samples.append(s)
        if time.perf_counter() >= deadline:
            return samples, attempted, failed, mismatches


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    _preflight()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    env = _configure_env(work)
    bench = Bench(args.workload, args.seed, work)
    try:
        setup = bench.set_up(traced=bool(args.trace))
        job = bench.traced_job if args.trace else bench.job
        cpu0 = _cpu_ticks()
        samples, attempted, failed, mismatches = _measure(job, args.seconds)
        steal_frac = _steal_frac(cpu0, _cpu_ticks())
        rss_mb = bench.jvm_peak_rss_mb()
        for s in samples:
            s.layers["jvm.peak_rss_mb"] = rss_mb
        spark_version = bench.spark.version
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if args.trace:
        metrics = {
            name: {"value": statistics.median(s.layers.get(name, 0.0) for s in samples)
                   if samples else 0.0, "unit": unit}
            for name, unit in UNITS.items()
        }
    else:
        values = {
            "spans_per_cpu_s": statistics.median(s.spans / s.cpu_s for s in samples)
            if samples else 0.0,
            "setup_s": setup["setup_s"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    settings = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "master": f"local[{bench.cores}]",
        "shuffle_partitions": bench.cores, "gen_spec": bench.spec.__dict__,
        "spark": spark_version, "python": platform.python_version(), "env": env,
        "job_s": [round(s.seconds, 4) for s in samples],
        "job_cpu_s": [round(s.cpu_s, 2) for s in samples], "jvm_peak_rss_mb": rss_mb,
        **({"micro_batch_s": [s.batches for s in samples]} if bench.wl.kind == "stream"
           else {}),
        "cpu_steal_frac": steal_frac,
        **{k: v for k, v in setup.items() if k != "setup_s"},
    }
    print("settings " + json.dumps(settings, default=str))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for name, value in _wall(samples).items():
            print(f"{name} {value:.6g} {WALL[name]}")
        print(f"jvm_peak_rss_mb {rss_mb:.6g} MB")
    print(f"oracle_mismatches {mismatches} count")
    print(f"failed_ops_ratio {failed / attempted:.6g} ratio")
    print(json.dumps({
        "correct": failed == 0 and bool(samples),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
