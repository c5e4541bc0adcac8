"""Structured Streaming variant of the tail-sampling pipeline.

The reference is a streaming system: traces become 'ready' when inactive for
``inactivity_window`` seconds (/root/reference/src/storage/memory.rs:185-228,
SURVEY.md §2.10). The Spark-native analog is a SESSION WINDOW on event time
with a watermark:

    readStream(tokenized) -> parse -> withWatermark(gap)
      -> groupBy(session_window(event_time, gap), trace_key).agg(summary)
      -> decide -> route (foreachBatch)

A session window closes exactly when the watermark (max event time - delay)
passes its end — the same 'no new span for N seconds' semantics as the
reference's inactivity timeout. Bounded runs use Trigger.AvailableNow; note
the inherent streaming tail: sessions newer than (max_ts - gap - delay) stay
open at stream end (the reference has the same behavior — its buffer holds
unexpired traces until shutdown).

The parse stage is the batch job's JVM expression parser
(parser.parse_spans_jvm), pruned to the fields assembly reads; the
session-window strategy reuses the batch TraceSummary aggregates
(assembly.summary_aggs / summary_columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_tail_sampler_spark.operators.assembly import summary_aggs, summary_columns
from otel_tail_sampler_spark.operators.parser import parse_spans_jvm
from otel_tail_sampler_spark.operators.policies import SamplerConfig, decide
from otel_tail_sampler_spark.streaming.buckets import pin_state_buckets, state_buckets


def read_tokenized_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the tokenized table directory (S1 streaming
    analog; a Kafka deployment swaps this for readStream.format('kafka'))."""
    reader = (
        spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string"
        )
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def decode_kafka_value(raw: DataFrame) -> DataFrame:
    """Map a Kafka-shaped frame (binary ``value`` column, the JSON-encoded
    tokenized row — consumer.rs:136-193's payload) onto the same schema the
    file source yields, so everything downstream is source-agnostic. Split
    out from ``read_kafka_stream`` so the decode logic is unit-testable on
    a batch DataFrame with the Kafka wire columns even where the
    spark-sql-kafka package is absent (tests/test_streaming.py); malformed
    JSON decodes to all-NULL fields, which the parser's malformed sink
    then routes, mirroring the reference's skip-on-decode-error."""
    return raw.select(
        F.from_json(
            F.col("value").cast("string"),
            "doc_id string, tokens array<int>, n_tok int, source string",
        ).alias("r")
    ).select("r.*")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source branch (S1 proper; /root/reference/src/kafka/consumer.rs
    :136-193). Requires the spark-sql-kafka package on the classpath
    (absent in this sandbox — the file source is the tested stand-in and
    ``decode_kafka_value`` carries the tested mapping; this branch is
    exercised on real deployments via
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_kafka_value(raw)


def assemble_sessions(
    spans: DataFrame,
    gap_seconds: int = 30,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Streaming trace assembly: session_window(gap) == inactivity timeout.

    Event time = timestamp_ms as timestamp. One trace can span multiple
    sessions if its spans pause longer than the gap — matching the
    reference, which force-exports a trace after inactivity and treats late
    spans as a fresh trace. The reference stops the re-export with its
    Redis dedup key; this job does not yet: each session of such a trace
    is decided and exported on its own (ROADMAP direction 2).

    The input carries the service/operation payloads as raw code-point
    CSVs (``_svc_csv``/``_op_csv``, parser.name_csv_exprs); the aggregates
    are the batch ones (assembly.summary_aggs) and the string decode runs
    AFTER the aggregation — once per distinct value per trace instead of
    once per span (guide §4.1: defer interpreted work past the agg).
    """
    from otel_tail_sampler_spark.operators.parser import csv_name_expr

    with_ts = spans.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp_ms"))
    ).withWatermark("event_time", watermark_delay)
    return (
        with_ts.groupBy(
            F.session_window("event_time", f"{gap_seconds} seconds"),
            F.col("trace_k1"),
            F.col("trace_k2"),
        )
        .agg(*summary_aggs(F.col("_svc_csv"), F.col("_op_csv")))
        .select(*summary_columns(csv_name_expr))
    )


# Bucketed state: ONE state row per hash bucket holding the parallel-array
# trace map (the reference's shard-local HashMap<trace_id, TraceState>,
# memory.rs:185-228, expressed as Spark state). `dl` is each trace's armed
# deadline (max(last_ts + gap, watermark + 1) at its last update) — the
# exact per-trace timeout the one-row-per-trace formulation kept in Spark's
# own timer, persisted here because the bucket carries many traces with
# different deadlines. `rts = 2^63-1 AND rsid = ''` encodes "no root seen"
# (a real root at ts = 2^63-1 is outside any clock this pipeline parses).
BUCKET_STATE_SCHEMA = (
    "k1 array<long>, k2 array<long>, sc array<long>, ec array<long>, "
    "mx array<long>, mn array<long>, mxts array<long>, fts array<long>, "
    "fsid array<string>, fsvc array<string>, rts array<long>, "
    "rsid array<string>, dl array<long>, ops array<array<string>>"
)

_NO_ROOT_TS = (1 << 63) - 1

SUMMARY_SCHEMA = (
    "trace_k1 long, trace_k2 long, trace_id string, service_name string, "
    "span_count long, has_error boolean, error_count long, "
    "max_duration_ms long, min_timestamp_ms long, max_timestamp_ms long, "
    "operations array<string>, root_span_id string"
)


def _bucket_partials(pdf, out: dict) -> None:
    """Fold one grouped-bucket pandas batch into ``out``, a dict
    ``(k1, k2) -> [sc, ec, mx, mn, mxts, fts, fsid, fsvc, rts, rsid,
    dl, ops_set]`` (``dl`` left None here; armed by the caller). All
    per-span work is vectorized: ONE lexsort by (k1, k2, ts, sid) makes
    every election a boundary/reduceat read — the first sorted row per
    trace IS the (ts, span_id)-min first span, the first root row per
    trace IS the root election, min/max timestamps are the segment
    endpoints."""
    import numpy as np
    import pandas as pd

    n = len(pdf)
    if not n:
        return
    k1 = pdf["trace_k1"].to_numpy(np.int64)
    k2 = pdf["trace_k2"].to_numpy(np.int64)
    ts = pdf["timestamp_ms"].to_numpy(np.int64)
    dur = pdf["duration_ms"].to_numpy(np.int64)
    err = (pdf["status_code"].to_numpy() == 2).astype(np.int64)
    sid = pdf["span_id"].to_numpy(object)
    svc = pdf["service_name"].to_numpy(object)
    ops = pdf["operation_name"].to_numpy(object)
    root = pdf["parent_span_id"].isna().to_numpy()

    order = np.lexsort((sid, ts, k2, k1))
    k1s, k2s, tss = k1[order], k2[order], ts[order]
    sids, svcs, opss = sid[order], svc[order], ops[order]
    new_grp = np.empty(n, bool)
    new_grp[0] = True
    new_grp[1:] = (k1s[1:] != k1s[:-1]) | (k2s[1:] != k2s[:-1])
    starts = np.flatnonzero(new_grp)
    g = len(starts)
    ends = np.append(starts[1:], n)
    gidx = np.cumsum(new_grp) - 1
    cnt = ends - starts
    ecg = np.add.reduceat(err[order], starts)
    mxg = np.maximum.reduceat(dur[order], starts)
    # ts is sorted ascending within each trace -> endpoints are min/max
    mng, mxts_g = tss[starts], tss[ends - 1]
    fts_g, fsid_g, fsvc_g = tss[starts], sids[starts], svcs[starts]
    rts_g = np.full(g, _NO_ROOT_TS, np.int64)
    rsid_g = np.full(g, "", object)
    ridx = np.flatnonzero(root[order])
    if ridx.size:
        rg, first = np.unique(gidx[ridx], return_index=True)
        sel = ridx[first]  # first root row in sort order = (ts, sid) min
        rts_g[rg] = tss[sel]
        rsid_g[rg] = sids[sel]
    # distinct operation sets per trace: unique (trace, op-code) pairs
    codes, uniq = pd.factorize(pd.Series(opss), sort=False)
    pk = gidx * np.int64(len(uniq)) + codes
    upairs = np.unique(pk)
    pg = (upairs // len(uniq)).astype(np.int64)
    pc = upairs % len(uniq)
    uvals = uniq.to_numpy(object)
    bounds = np.flatnonzero(np.r_[True, pg[1:] != pg[:-1]])
    op_lists = np.split(uvals[pc], bounds[1:])

    for i in range(g):
        key = (int(k1s[starts[i]]), int(k2s[starts[i]]))
        new = [
            int(cnt[i]), int(ecg[i]), int(mxg[i]), int(mng[i]),
            int(mxts_g[i]), int(fts_g[i]), fsid_g[i], fsvc_g[i],
            int(rts_g[i]), rsid_g[i], None, set(op_lists[i]),
        ]
        old = out.get(key)
        if old is None:
            out[key] = new
        else:
            _merge_trace(old, new)


def _merge_trace(old: list, new: list) -> None:
    """Fold partial ``new`` into ``old`` (layout per _bucket_partials).
    Every aggregate is associative/commutative, so fold order across
    batches cannot change the emitted summary."""
    old[0] += new[0]
    old[1] += new[1]
    if new[2] > old[2]:
        old[2] = new[2]
    if new[3] < old[3]:
        old[3] = new[3]
    if new[4] > old[4]:
        old[4] = new[4]
    if (new[5], new[6]) < (old[5], old[6]):
        old[5], old[6], old[7] = new[5], new[6], new[7]
    if (new[8], new[9]) < (old[8], old[9]):
        old[8], old[9] = new[8], new[9]
    old[11].update(new[11])


def assemble_with_state(
    spans: DataFrame,
    gap_seconds: int = 30,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Custom per-trace state with event-time timeout — the second
    streaming strategy, mirroring the reference's TraceState inactivity
    expiry (/root/reference/src/state.rs:293-325): each trace holds a row
    of running aggregates; a span batch folds into it and re-arms its
    deadline at last_span_ts + gap; when the watermark passes that, the
    summary is emitted exactly once and the trace forgotten.

    State LAYOUT is the reference's shard-local trace map
    (memory.rs:185-228 keeps ONE HashMap of TraceState per shard, not one
    Redis row per trace): traces hash into buckets and each
    bucket keys ONE Spark state row holding its traces as parallel
    arrays. The earlier one-state-row-per-trace formulation paid the
    applyInPandasWithState per-group protocol cost (state decode, pandas
    slice, fn call, state encode — measured ~10 ms/trace at sf0.1) once
    per TRACE per micro-batch: 120k traces made the bounded sf0.1 run
    ~86 s of pure per-group overhead. Bucketing pays it once per BUCKET
    (2x shuffle partitions — sized by the same knob that scales the
    cluster; run_streaming_pipeline records the count in the checkpoint
    and refuses a resume at another one) and folds each bucket's spans with ONE vectorized
    lexsort kernel per Arrow batch; measured 89.8 -> 9.2 s wall on the
    same input with identical emitted rows (tests pin batch parity).

    Per-trace timeout semantics are unchanged: each trace's armed
    deadline ``max(last_ts + gap, watermark + 1)`` is stored in the
    bucket row, the bucket's Spark timer fires at the MIN deadline, and
    both branches (data arrival / timer) emit exactly the traces whose
    deadline the watermark strictly passed — the same rows, in the same
    micro-batch, as the per-trace-timer formulation.

    Equivalent to assemble_sessions when no trace pauses longer than the
    gap (one session per trace); differs by design when a trace pauses —
    the session variant emits one summary per burst, this one folds
    everything seen until the trace finally goes quiet (the reference's
    one-buffer-entry-per-trace behavior).
    """
    import pandas as pd

    gap_ms = gap_seconds * 1000
    n_buckets = state_buckets(spans.sparkSession)

    with_ts = spans.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp_ms"))
    ).withWatermark("event_time", watermark_delay).withColumn(
        "_bucket",
        F.pmod(
            F.xxhash64(F.col("trace_k1"), F.col("trace_k2")),
            F.lit(n_buckets),
        ).cast("int"),
    ).select(
        # guide §4.1: the grouped batches are opaque to Catalyst — ship
        # only the columns the fold reads (plus the watermark column).
        # The svc/op payloads arrive as code-point CSVs
        # (parser.name_csv_exprs) and decode in Python AT EMIT — once
        # per distinct value per trace, not once per span.
        "_bucket", "trace_k1", "trace_k2", "span_id", "parent_span_id",
        "timestamp_ms", "duration_ms", "status_code",
        F.col("_svc_csv").alias("service_name"),
        F.col("_op_csv").alias("operation_name"),
        "event_time",
    )

    def _dec(csv: str) -> str:
        return bytes(map(int, csv.split(","))).decode("ascii") if csv else ""

    def _emit_frame(rows: list):
        m = (1 << 64) - 1
        return pd.DataFrame(
            {
                "trace_k1": [t[0] for t, _ in rows],
                "trace_k2": [t[1] for t, _ in rows],
                "trace_id": [
                    f"{t[0] & m:016X}{t[1] & m:016X}" for t, _ in rows
                ],
                "service_name": [_dec(p[7]) for _, p in rows],
                "span_count": [p[0] for _, p in rows],
                "has_error": [p[1] > 0 for _, p in rows],
                "error_count": [p[1] for _, p in rows],
                "max_duration_ms": [p[2] for _, p in rows],
                "min_timestamp_ms": [p[3] for _, p in rows],
                "max_timestamp_ms": [p[4] for _, p in rows],
                "operations": [
                    sorted(_dec(o) for o in p[11]) for _, p in rows
                ],
                "root_span_id": [
                    p[9] if p[8] != _NO_ROOT_TS else None for _, p in rows
                ],
            }
        )

    def fn(key, pdfs, state):
        wm = state.getCurrentWatermarkMs()
        traces: dict = {}
        if state.exists:
            (k1a, k2a, sca, eca, mxa, mna, mxtsa, ftsa, fsida, fsvca,
             rtsa, rsida, dla, opsa) = state.get
            for i in range(len(k1a)):
                traces[(k1a[i], k2a[i])] = [
                    sca[i], eca[i], mxa[i], mna[i], mxtsa[i], ftsa[i],
                    fsida[i], fsvca[i], rtsa[i], rsida[i], dla[i],
                    set(opsa[i]),
                ]

        if state.hasTimedOut:
            updated: set = set()
        else:
            batch: dict = {}
            for pdf in pdfs:
                _bucket_partials(pdf, batch)
            updated = set(batch)
            for k, p in batch.items():
                old = traces.get(k)
                if old is None:
                    traces[k] = p
                else:
                    _merge_trace(old, p)
                # re-arm THIS trace: fire when the watermark passes
                # last-span-ts + gap; never arm in the past (same clamp
                # Spark imposes on its own timer API)
                traces[k][10] = max(traces[k][4] + gap_ms, wm + 1)

        # a trace with no data this batch whose deadline the watermark
        # STRICTLY passed fires now — Spark's own event-time timer
        # condition (timeoutTimestamp < watermark); updated traces were
        # re-armed above the watermark and cannot fire
        expired = [
            (k, p) for k, p in traces.items()
            if k not in updated and p[10] < wm
        ]
        for k, _ in expired:
            del traces[k]

        if traces:
            ks = list(traces)
            ps = [traces[k] for k in ks]
            state.update((
                [k[0] for k in ks], [k[1] for k in ks],
                [p[0] for p in ps], [p[1] for p in ps],
                [p[2] for p in ps], [p[3] for p in ps],
                [p[4] for p in ps], [p[5] for p in ps],
                [p[6] for p in ps], [p[7] for p in ps],
                [p[8] for p in ps], [p[9] for p in ps],
                [p[10] for p in ps],
                [sorted(p[11]) for p in ps],
            ))
            state.setTimeoutTimestamp(
                max(min(p[10] for p in ps), wm + 1)
            )
        elif state.exists:
            state.remove()

        if expired:
            yield _emit_frame(expired)

    return with_ts.groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=SUMMARY_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    cfg: SamplerConfig | None = None,
    gap_seconds: int = 30,
    watermark_delay: str = "10 seconds",
    available_now: bool = True,
    max_files_per_trigger: int | None = 8,
    strategy: str = "session_window",
    route_spans_from: str | None = None,
):
    """Bounded streaming run (Trigger.AvailableNow): emits decided trace
    summaries for every session the watermark closed, written per micro-batch
    via foreachBatch into decided/ as plain appends: a micro-batch replayed
    after a failure appends its rows a second time (ROADMAP direction 2).

    ``strategy``: 'session_window' (watermarked session aggregation) or
    'state' (applyInPandasWithState per-trace timeout, state.rs:293-325).

    ``route_spans_from``: path of the bronze tokenized table. When set, each
    micro-batch also exports the KEPT traces' raw span rows (token arrays
    verbatim) into routed_keep/ — the reference's "export buffered spans on
    decision" move (evaluator.rs:244, spans buffered in Redis/memory) with
    the lake as the span buffer: a stream-static semi-join per batch instead
    of a stateful span buffer, which is the piece that cannot scale to
    10^12 spans of state. At scale the bronze table should be
    day-partitioned (operators.routing.write_routed day_partition) so the
    decided batch's time bounds prune the static side's scan.

    Returns the StreamingQuery after awaiting termination.
    """
    from otel_tail_sampler_spark.operators.parser import name_csv_exprs

    cfg = cfg or SamplerConfig(rate_limit_per_key=None)
    stream = read_tokenized_stream(spark, input_path, max_files_per_trigger)
    # slim parse: decode only the fields the assembly aggregates on; the
    # service/operation payloads ride as raw code-point CSVs and decode
    # AFTER aggregation (per distinct value per trace — measured 2.3x
    # cheaper than per-span char() decode at 600k spans, guide §4.1).
    # The CSV extraction is gated on parse_ok: ANSI mode errors on the
    # junk slice bounds of malformed rows.
    svc_csv, op_csv = name_csv_exprs(F.col("tokens"))
    spans = (
        parse_spans_jvm(
            stream,
            keep_tokens=True,
            fields=[
                "trace_k1", "trace_k2", "span_id", "parent_span_id",
                "timestamp_ms", "duration_ms", "status_code",
            ],
        )
        .withColumns(
            {
                "_svc_csv": F.when(F.col("parse_ok"), svc_csv),
                "_op_csv": F.when(F.col("parse_ok"), op_csv),
            }
        )
        .drop("tokens")
        .filter(F.col("parse_ok"))
    )
    ckpt = os.path.join(out_dir, "_stream_checkpoint")
    if strategy == "state":
        pin_state_buckets(spark, ckpt)
        sessions = assemble_with_state(spans, gap_seconds, watermark_delay)
    elif strategy == "session_window":
        sessions = assemble_sessions(spans, gap_seconds, watermark_delay)
    else:
        raise ValueError(f"unknown streaming strategy: {strategy}")

    decided_dir = os.path.join(out_dir, "decided")
    routed_dir = os.path.join(out_dir, "routed_keep")

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = decide(batch_df, cfg)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(decided_dir)
        )
        if route_spans_from is not None:
            from otel_tail_sampler_spark.operators.parser import with_routing_key

            kept = out.filter(F.col("decision") == "keep")
            if kept.isEmpty():
                return
            bronze = with_routing_key(spark.read.parquet(route_spans_from))
            (
                # semi-join on the int key pair (no per-span hex); the kept
                # batch is small -> broadcast build side, bronze never shuffles
                bronze.filter("parse_ok")
                .join(kept.select("trace_k1", "trace_k2"), ["trace_k1", "trace_k2"], "semi")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(routed_dir)
            )

    writer = (
        sessions.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink_batch)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    q.awaitTermination()
    return q
