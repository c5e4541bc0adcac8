"""Sequence packing: variable-length token sequences -> fixed-length
training examples (the canonical pre-training batch-prep operator over
exactly this repo's input table shape, (doc_id, tokens:array<int>, n_tok)).

Semantics (deterministic, partition-count-independent): concatenate every
sequence in doc_id order into one logical token stream, then cut the stream
into consecutive examples of ``max_len`` tokens (the last example may be
short). Documents therefore may straddle example boundaries — the standard
"packed causal LM" layout; add separator tokens upstream if boundaries must
be visible.

Scale shape — the naive formulations both fail at 10^12 sequences:
* a global ``sum(n_tok) OVER (ORDER BY doc_id)`` window funnels the whole
  table through ONE task (no partition spec);
* per-token posexplode multiplies the row count by the sequence length.
Here the global prefix offsets come from the classic two-phase scan:
range-partition by doc_id, per-partition token totals (ONE tiny row per
partition) are prefix-summed on the driver and broadcast back as base
offsets, then an Arrow-batched stage computes each document's global start
offset locally and emits one row PER (document x example) intersection
(<= n_tok/max_len + 1 rows per doc, not per token). Final assembly is one
groupBy(example_id) whose shuffle moves each token exactly once — packing
is a data permutation, so that is the lower bound.

Output determinism does not depend on the partitioning: bucket boundaries
come from a DETERMINISTIC hash-fraction sample of the id column (collected
once on the driver), so both passes assign identical bucket ids by pure
expression — no cached state, no per-job boundary re-sampling — and the
packed stream is identical for any partition count, which is what makes
the operator oracle-checkable in DuckDB. An earlier formulation pinned a
``repartitionByRange().persist()`` of the whole corpus purely because
range boundaries re-sample per job; at 10^12 tokens a second resident
copy of the corpus is the difference between running and not, so the
explicit-boundary scheme replaced it (same oracle, same
partition-count-independence test).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from otel_tail_sampler_spark.functions.hashing import hash_frac, hash_key
from otel_tail_sampler_spark.functions.tables import local_table

# Hard ceiling on the _exact_positions offsets collect: one row per chunk,
# i.e. per (group value, hex prefix) in _subrange_rank, so at
# SUB_PREFIX_LEN=2 this admits ~4096 distinct group values — far above
# every in-repo caller (curriculum metrics are quantized to <= a few
# hundred bins) while converting the high-cardinality foot-gun into a
# sizing error instead of a driver OOM.
_MAX_OFFSET_ROWS = 1 << 20


def _pack_bucket_bounds(
    df: DataFrame, id_col: str, n_buckets: int, n_rows: int | None = None
) -> list:
    """Deterministic range-bucket boundaries for the id column: collect a
    hash-fraction sample (pure function of the data — NOT an RNG sample, so
    every pass and every rerun sees the same boundaries), sort on the
    driver, take ``n_buckets - 1`` evenly spaced cut points. The sample is
    ~64 ids per target bucket: tiny on the driver at any corpus size.

    The count sizes the sampling fraction only — callers that already
    know the row count pass ``n_rows`` and skip that scan (run_corpus_prep
    does); the boundary-sample pass itself is column-pruned to the id."""
    n = df.count() if n_rows is None else n_rows
    if n == 0 or n_buckets <= 1:
        return []
    p = min(1.0, (64.0 * n_buckets) / n)
    sampled = [
        r[0]
        for r in df.select(F.col(id_col))
        .filter(hash_frac(F.col(id_col).cast("string"), "pack_bounds") < p)
        .collect()
    ]
    sampled.sort()
    if not sampled:
        return []
    step = max(len(sampled) // n_buckets, 1)
    bounds = sorted({sampled[i] for i in range(step, len(sampled), step)})
    return bounds[: n_buckets - 1]


def _bucket_of(id_c: Column, bounds: list) -> Column:
    """Monotonic bucket id: #boundaries <= id, evaluated with SPARK's own
    ordering (array filter over literals) so bucket assignment can never
    disagree with sortWithinPartitions' comparator — the property global
    offsets depend on. O(|bounds|) per row, JVM-side; bounds is one small
    literal array (~thousands of entries at most)."""
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= id_c))


def pack_sequences(
    df: DataFrame,
    max_len: int = 512,
    id_col: str = "doc_id",
    n_rows: int | None = None,
    emit_spans: bool = False,
) -> DataFrame:
    """-> (example_id long, tokens array<int>, n_tok int): consecutive
    ``max_len``-token examples of the doc_id-ordered concatenated stream.
    Pass ``n_rows`` (the input row count, if known) to skip the
    fraction-sizing count scan. ``emit_spans=True`` appends
    ``doc_spans array<struct<offset int, length int>>`` — the per-example
    document-piece layout a loader needs to build BLOCK-DIAGONAL
    attention masks (no cross-document attention) without re-detecting
    boundaries; spans derive from the same sorted piece structs the
    tokens flatten from, so they cannot disagree with the token layout.

    Pure-JVM formulation: global offsets come from ``_exact_positions``
    chunked by the deterministic range bucket (bucket-sized window
    partitions — never the single-task global window the module
    docstring warns about); each document then explodes into its
    <= n_tok/max_len + 1 (doc x example) intersections with `slice`
    arithmetic — every expression whole-stage-codegen-friendly, no
    Python stage. An earlier formulation computed
    the same pieces in an Arrow-batched mapInPandas stage; profiling on
    the 600M-token scaling protocol showed the JVM<->Python Arrow
    round-trip of the whole corpus (~2x corpus bytes over local sockets,
    per-worker buffer churn) was both the dominant cost and the part that
    scaled WORST with cores (1->4 efficiency 0.58 vs 0.90 for a pure-JVM
    movement control on the same input) — cutting pieces with JVM slice
    expressions removes that transfer entirely.

    Determinism precondition: the boundary sample, the per-bucket totals,
    and the piece pass are three INDEPENDENT jobs over ``df`` — the input
    must be identical across them (stable source, deterministic lineage).
    A source mutated mid-run shifts global offsets silently; a bucket that
    appears only in the piece pass fails fast (raise_error) instead.
    The earlier persist-pinned formulation was immune but kept a second
    resident copy of the corpus — untenable at 10^12 tokens."""
    # one range bucket per shuffle partition of the session
    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    bounds = _pack_bucket_bounds(df.select(id_col), id_col, n_buckets, n_rows)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col("tokens").alias("_t"),
        _bucket_of(F.col(id_col), bounds).alias("_pid"),
        F.size("tokens").alias("_len"),
    )
    # _pid is a pure function of the id, so the offsets pass and the piece
    # pass agree no matter how either one is partitioned or recomputed
    ranked, _, _ = _exact_positions(base, ["_pid"], ["_id"], "_len", None)
    off = (F.col("_pos") - F.col("_len")).cast("long")
    n = F.col("_len").cast("long")
    first_ex = F.floor(off / max_len)
    last_ex = F.floor((off + n - F.lit(1)) / max_len)
    # without empty documents every sequence is non-empty: explode_outer
    # emits what explode would, minus the size(_ks) > 0 Filter Catalyst
    # infers from explode, which builds each sequence a second time
    with_off = ranked.filter(F.col("_len") > 0).select(
        "_t", off.alias("_off"), n.alias("_n"),
        F.sequence(first_ex, last_ex).alias("_ks"),
    )
    exploded = with_off.select(
        "_t", "_off", "_n", F.explode_outer("_ks").alias("example_id")
    )
    gs = F.greatest(F.col("_off"), F.col("example_id") * max_len)
    ge = F.least(F.col("_off") + F.col("_n"), (F.col("example_id") + 1) * max_len)
    piece_cols = [
        F.col("example_id"),
        gs.alias("_start"),
        F.slice(
            F.col("_t"), (gs - F.col("_off") + 1).cast("int"), (ge - gs).cast("int")
        ).alias("_slice"),
    ]
    if emit_spans:
        # offset-in-example computed HERE, where example_id is a plain
        # row column — a transform lambda capturing the outer example_id
        # later would be the HOF-captures-outer-column shape the
        # analyzer mishandles across join deduplication (see
        # form_batches' bucket expression note)
        piece_cols.append(
            (gs - F.col("example_id") * max_len).cast("int").alias("_oie")
        )
    pieces = exploded.select(*piece_cols)
    struct_fields = ["_start", "_slice"] + (["_oie"] if emit_spans else [])
    sorted_pieces = F.array_sort(F.collect_list(F.struct(*struct_fields)))
    cols = [
        "example_id",
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
    ]
    if emit_spans:
        # (offset-in-example, length) per document piece, in stream order
        # — the block-diagonal attention-mask metadata: a loader masks
        # cross-document attention without re-detecting boundaries.
        # Derived from the SAME sorted piece structs the tokens flatten
        # from, so spans can never disagree with the token layout; the
        # lambda reads only struct fields (no outer-column capture).
        cols.append(
            F.transform(
                F.col("_sorted"),
                lambda s: F.struct(
                    s.getField("_oie").alias("offset"),
                    F.size(s.getField("_slice")).cast("int").alias("length"),
                ),
            ).alias("doc_spans")
        )
    return (
        pieces.groupBy("example_id")
        .agg(sorted_pieces.alias("_sorted"))
        .select(
            "example_id",
            F.flatten(
                F.transform(F.col("_sorted"), lambda s: s.getField("_slice"))
            ).alias("tokens"),
            "_sorted",
        )
        .select(*cols)
    )


def assign_shards(
    examples: DataFrame, n_shards: int, id_col: str = "example_id"
) -> DataFrame:
    """Deterministic shard assignment + shuffled within-shard order for
    training examples: adds ``shard`` (md5(id)%n_shards) and ``shard_pos``
    (0-based rank of the md5 hex within the shard).

    A reader streaming each shard in ``shard_pos`` order sees examples
    decorrelated from the packed document order — the standard "global
    shuffle" a training run needs — while both columns are pure functions
    of the example id: stable across re-runs, partition counts, and
    engines (md5 hex ranks identically in Spark and DuckDB).

    Scale shape: the ``row_number`` window partitions on ``shard``, so the
    exchange + in-partition sort is EXACTLY the movement needed to write
    the shard files afterwards (`repartition(n_shards, shard)
    .sortWithinPartitions(shard_pos)` reuses the same partitioning). One
    task holds ~|examples|/n_shards rows; md5 spreads ids uniformly, so
    skew cannot concentrate a shard. Pick n_shards by target shard file
    size exactly as any shard writer must.
    """
    from pyspark.sql import Window

    h = hash_key(F.col(id_col).cast("string"), "shards")
    out = examples.withColumn("_h", h).withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring(F.col("_h"), 1, 15), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return out.withColumn(
        "shard_pos", (F.row_number().over(w) - 1).cast("int")
    ).drop("_h")


def write_shards(
    examples: DataFrame, path: str, n_shards: int, manifest: bool = False
) -> None:
    """Materialize the training shards: assign_shards' deterministic
    (shard, shard_pos) layout written as one parquet file per shard
    directory, rows in shard_pos order.

    Scale shape: the repartition on ``shard`` is the SAME exchange the
    assign_shards window already needs (hash on shard), so the write adds
    no extra shuffle — each shard hashes wholly into one task, which
    writes exactly one in-order file into its `shard=k/` directory. A
    reader streaming that file sees the decorrelated within-shard order a
    training run wants, with no shuffle buffer of its own.

    ``manifest=True`` also writes the per-shard integrity record to
    ``{path}_manifest`` (a sibling, so the partitioned shard dir stays
    pure) — computed by READING BACK the just-written files, not by
    re-running the examples lineage: it digests the actual written
    bytes (the quantity a loader will verify), costs one scan of the
    output instead of a second full prep-chain pass, and cannot drift
    from the files the way an unpersisted-lineage recomputation could
    (the pack_sequences two-job caveat). The digest covers the
    ``tokens`` column.
    """
    (
        assign_shards(examples, n_shards)
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    if manifest:
        written = examples.sparkSession.read.parquet(path)
        _manifest_agg(written).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{path}_manifest")


def add_special_tokens(
    df: DataFrame, bos_id: int | None = None, eos_id: int = -100
) -> DataFrame:
    """Wrap each sequence with BOS/EOS sentinel ids (``bos_id`` optional)
    so document boundaries survive `pack_sequences`' concatenation —
    the docstring there points boundary-aware training here.

    Scan-time array concat, no shuffle; empty sequences are wrapped too
    (an empty doc still marks a boundary in the packed stream).
    """
    parts = []
    if bos_id is not None:
        parts.append(F.array(F.lit(int(bos_id))))
    parts.append(F.col("tokens"))
    parts.append(F.array(F.lit(int(eos_id))))
    return df.withColumn("tokens", F.concat(*parts).cast("array<int>"))


def pack_documents_greedy(
    df: DataFrame, max_len: int = 512, n_buckets: int | None = None
) -> DataFrame:
    """Doc-boundary-preserving packing: the OTHER standard layout next to
    pack_sequences' concatenate-and-cut — examples contain only WHOLE
    documents, greedily first-fit in id order, so no document ever
    straddles an example (a doc longer than ``max_len`` is truncated and
    gets its own example). -> (example_id long, tokens, n_tok, n_docs);
    examples are <= max_len and under-full by whatever tail the greedy
    pass could not fit (the price of boundary preservation).

    Semantics are a per-bucket RECURRENCE (an example closes when the
    next doc would overflow), which no prefix-sum can express — hence
    applyInPandas per deterministic hash bucket rather than pure
    expressions, and a scalar-reference pytest rather than a SQL oracle
    (the driver records the weaker rows-only check for this query).
    Determinism: bucket = md5-hash of the id (pure function — identical
    for any partition count), docs packed in id order within the bucket,
    example_id = bucket * 2^40 + ordinal. Unlike pack_sequences the
    buckets need NO global order — boundary preservation is local — so
    no boundary sample and no offsets pass.

    Scale shape: one shuffle on the bucket id; each task holds one
    bucket's documents in pandas, so pick ``n_buckets`` ~ corpus_tokens /
    (executor-memory-sized slice) — buckets are uniform by construction
    (md5), so no bucket is hot.
    """
    import numpy as np
    import pandas as pd

    from otel_tail_sampler_spark.functions.hashing import portable_hash64

    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bucket = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), "packdoc"),
        F.lit(int(n_buckets)),
    )
    base = df.select(
        F.col("doc_id").alias("_id"),
        F.col("tokens").alias("_t"),
        bucket.alias("_pid"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("_id")
        pid = int(pdf["_pid"].iloc[0])
        ex_ids: list[int] = []
        ex_toks: list = []
        ex_docs: list[int] = []
        cur: list = []
        cur_len = cur_docs = 0

        def flush() -> None:
            nonlocal cur, cur_len, cur_docs
            if cur_docs:
                ex_ids.append(pid * (1 << 40) + len(ex_ids))
                ex_toks.append(
                    np.concatenate(cur)
                    if cur_len
                    else np.array([], np.int32)
                )
                ex_docs.append(cur_docs)
            cur, cur_len, cur_docs = [], 0, 0

        for toks in pdf["_t"]:
            a = np.asarray(toks, np.int32)[: int(max_len)]
            if cur_docs and cur_len + a.size > max_len:
                flush()
            cur.append(a)
            cur_len += int(a.size)
            cur_docs += 1
        flush()
        if not ex_ids:  # empty bucket frame -> typed empty output
            return pd.DataFrame(
                {"example_id": pd.Series([], dtype="int64"),
                 "tokens": pd.Series([], dtype="object"),
                 "n_tok": pd.Series([], dtype="int32"),
                 "n_docs": pd.Series([], dtype="int32")}
            )
        return pd.DataFrame(
            {
                "example_id": ex_ids,
                "tokens": ex_toks,
                "n_tok": np.asarray([len(x) for x in ex_toks], np.int32),
                "n_docs": np.asarray(ex_docs, np.int32),
            }
        )

    return base.groupBy("_pid").applyInPandas(
        pack, "example_id long, tokens array<int>, n_tok int, n_docs int"
    )


# hex-prefix length that splits each group's md5 rank range into
# 16^SUB_PREFIX_LEN subranges in _subrange_rank's library callers
SUB_PREFIX_LEN = 2


def _exact_positions(
    base: DataFrame,
    chunks: list[str],
    order: list[str],
    value_col: str | None,
    reset_col: str | None,
):
    """Exact position of every row in the (``chunks``, ``order``) total
    order with no single-task window and no corpus-wide sort: ``_pos`` is
    the 0-based rank (``value_col=None``) or the running sum of
    ``value_col`` INCLUDING the row. ``reset_col`` (a chunk column whose
    values lead the chunk order) restarts the count at each of its
    values; None accumulates globally.

    Two passes over ``base``. The offsets pass collects one total per
    chunk, prefix-sums them on the driver in chunk order and broadcasts
    the offsets back as a TABLE (plan size independent of the chunk
    count — the k-literal lesson); the position pass adds its chunk's
    offset to each row's rank or sum in a window over its chunk only.
    The chunk columns must be orderable primitives of bounded distinct
    cardinality (the collect is BOUNDED by ``_MAX_OFFSET_ROWS`` and
    raises a sizing error instead of growing into a driver OOM; the limit
    probe costs no extra job) and NULL-free (raises — a NULL would
    silently sort nowhere).

    Determinism precondition: both passes must see the same input; a
    chunk unseen by the offsets pass fails fast (raise_error) instead of
    silently dropping rows.

    -> (base + ``_pos`` long, grand total, per-``reset_col`` totals dict).
    """
    spark = base.sparkSession
    agg_expr = F.count(F.lit(1)) if value_col is None else F.sum(value_col)
    counts = (
        base.groupBy(*chunks)
        .agg(agg_expr.alias("_n"))
        .limit(_MAX_OFFSET_ROWS + 1)
        .collect()
    )
    if len(counts) > _MAX_OFFSET_ROWS:
        raise ValueError(
            f"_exact_positions: the offsets pass produced more than "
            f"{_MAX_OFFSET_ROWS} rows — {chunks} has too many distinct "
            "values for an exact driver-side offsets table. Quantize the "
            "group metric upstream (e.g. bucket a continuous score into "
            "bounded integer bins, as curriculum_order's contract "
            "requires) and retry."
        )
    if any(r[c] is None for r in counts for c in chunks):
        raise ValueError(
            f"_exact_positions: NULL values in {chunks} — rank them "
            "explicitly (filter or sentinel) before ranking"
        )
    rows, acc, per_group = [], 0, {}
    for r in sorted(counts, key=lambda r: tuple(r[c] for c in chunks)):
        n = int(r["_n"] or 0)
        off = acc
        if reset_col is not None:
            off = per_group.get(r[reset_col], 0)
            per_group[r[reset_col]] = off + n
        rows.append((*(r[c] for c in chunks), off))
        acc += n
    ddl = ", ".join(f"{c} {base.schema[c].dataType.simpleString()}" for c in chunks)
    offsets = local_table(spark, rows, f"{ddl}, _off long")
    w = Window.partitionBy(*chunks).orderBy(*order)
    if value_col is None:
        local = F.row_number().over(w) - 1
    else:
        local = F.sum(F.col(value_col).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    off = F.when(
        F.col("_off").isNull(),
        F.raise_error(
            F.concat(
                F.lit("_exact_positions: chunk ("),
                F.concat_ws(", ", *[F.col(c).cast("string") for c in chunks]),
                F.lit(
                    ") absent from the offsets pass — the input changed "
                    "between the two jobs (see the determinism "
                    "precondition)"
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("_off"))
    # the offsets join runs after the window: joined before it (offsets
    # riding the chunk exchange), pack_sequences' piece pass over sf0.1
    # documents ran ~30% slower on a 4-core VM (local[4])
    ranked = (
        base.withColumn("_pos", local)
        .join(F.broadcast(offsets), chunks, "left")
        .withColumn("_pos", (off + F.col("_pos")).cast("long"))
        .drop("_off")
    )
    return ranked, acc, per_group


def _subrange_rank(
    df: DataFrame,
    group_col: str,
    id_col: str,
    seed: str,
    sub_prefix_len: int,
    reset_per_group: bool,
    value_col: str | None = None,
):
    """``_exact_positions`` in (``group_col``, md5(id|seed), id) order,
    the rank/running-sum of ``form_batches``, ``curriculum_order``,
    ``enforce_token_budget``, ``assign_shards_stratified`` and
    ``interleave_key``. Each group is chunked by the first
    ``sub_prefix_len`` hex digits of the md5 key: the prefix refines the
    group value, so (group, prefix) chunks in sorted order ARE the total
    order, and a degenerate group still spreads over 16^sub_prefix_len
    window partitions. ``reset_per_group`` restarts the count at each
    group. Driver-side work is one row per (group value, prefix).
    """
    base = df.withColumn(
        "_h", hash_key(F.col(id_col).cast("string"), seed)
    ).withColumn("_sub", F.substring("_h", 1, int(sub_prefix_len)))
    ranked, total, per_group = _exact_positions(
        base,
        [group_col, "_sub"],
        ["_h", id_col],
        value_col,
        group_col if reset_per_group else None,
    )
    return ranked.drop("_h", "_sub"), total, per_group


def form_batches(
    df: DataFrame,
    batch_size: int = 32,
    bucket_edges: tuple = (64, 128, 256, 512),
) -> DataFrame:
    """Length-bucketed batch formation: group sequences of similar length
    into fixed-size training batches so per-batch padding (to the batch
    max) stays small — the pad-waste lever for variable-length fine-tune
    / eval loaders that cannot pack. Adds (bucket int, batch_seq bigint,
    pos_in_batch int): ``bucket`` = index of the first ``bucket_edges``
    capacity >= the sequence length (one overflow bucket past the last
    edge), ``batch_seq`` = 0-based batch ordinal within the bucket,
    ``pos_in_batch`` = position inside the batch. Within a bucket the
    order is the md5(doc_id|'batch') rank — deterministically "shuffled", so
    consecutive batches are decorrelated from document order exactly
    like ``assign_shards``' within-shard order; the final (possibly
    short) batch per bucket holds the rank tail.

    Scale shape: the within-bucket rank is ``_subrange_rank`` with
    per-group reset (see there).
    """
    if int(batch_size) <= 0:
        # div/pmod by 0 would emit NULL batch ids silently, not error
        raise ValueError("batch_size must be positive")
    edges = [int(e) for e in bucket_edges]
    if edges != sorted(edges) or len(set(edges)) != len(edges):
        raise ValueError("bucket_edges must be strictly increasing")
    # bucket = #edges below the length, as a plain sum of comparisons:
    # whole-stage-codegen-friendly, and free of the HOF-captures-outer-
    # column shape the analyzer mishandles across join deduplication
    bexpr = F.lit(0)
    for e in edges:
        bexpr = bexpr + F.when(F.col("n_tok") > e, 1).otherwise(0)
    base = df.withColumn("bucket", bexpr.cast("int"))
    ranked, _, _gt = _subrange_rank(
        base,
        "bucket",
        "doc_id",
        "batch",
        SUB_PREFIX_LEN,
        reset_per_group=True,
    )
    return (
        ranked.withColumn(
            "batch_seq",
            F.expr(f"_pos div {int(batch_size)}").cast("long"),
        )
        .withColumn(
            "pos_in_batch", F.pmod(F.col("_pos"), F.lit(batch_size)).cast("int")
        )
        .drop("_pos")
    )


def batch_stats(batched: DataFrame) -> DataFrame:
    """Per-batch padding report over ``form_batches`` output:
    -> (bucket, batch_seq, n_docs int, max_len int, sum_len bigint,
    pad_tokens bigint) where ``pad_tokens = n_docs * max_len - sum_len``
    is the exact waste of padding the batch to its own longest sequence.
    One map-side-combinable aggregation; output is one row per batch.
    """
    return (
        batched.groupBy("bucket", "batch_seq")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.max("n_tok").cast("int").alias("max_len"),
            F.sum("n_tok").cast("long").alias("sum_len"),
        )
        .withColumn(
            "pad_tokens",
            (
                F.col("n_docs").cast("long") * F.col("max_len")
                - F.col("sum_len")
            ).cast("long"),
        )
    )


def curriculum_order(
    df: DataFrame, metric_col: str, n_phases: int = 4
) -> DataFrame:
    """Curriculum ordering: exact global rank + phase assignment by a
    difficulty metric (short-to-long length curricula, easy-to-hard
    rarity/novelty curricula). Adds ``rank`` (0-based global position in
    (metric, md5(doc_id|'curriculum'), doc_id) order) and ``phase`` (``rank * n_phases div total``: equal-
    population phases, earlier phases = lower metric). Ties on the
    metric break by the md5 hash, so same-difficulty docs land in a
    deterministic shuffled order rather than source order.

    Contract: the metric must be an INTEGER of bounded distinct
    cardinality, NULL-free (token lengths, fixed-point scores, count
    signals — the module family's exact-integer metrics all qualify):
    the offsets pass collects one row per (metric value, md5 prefix) to
    the driver, i.e. distinct-metrics x 16^``SUB_PREFIX_LEN``. Quantize
    a high-cardinality metric upstream (integer shift/div) before
    ranking on it.

    Scale shape: ``_subrange_rank`` WITHOUT per-group reset — the
    global rank (see there).
    """
    if n_phases <= 0:
        raise ValueError("n_phases must be positive")
    ranked, total, _gt = _subrange_rank(
        df,
        metric_col,
        "doc_id",
        "curriculum",
        SUB_PREFIX_LEN,
        reset_per_group=False,
    )
    return (
        # withColumn (not a rename): REPLACES a pre-existing `rank`
        # column instead of leaving an ambiguous duplicate behind
        ranked.withColumn("rank", F.col("_pos"))
        .drop("_pos")
        .withColumn(
            "phase",
            F.expr(f"rank * {int(n_phases)} div {max(total, 1)}").cast(
                "int"
            ),
        )
    )


def shard_manifest(
    examples: DataFrame, n_shards: int, id_col: str = "example_id"
) -> DataFrame:
    """Shard finalization metadata over ``assign_shards``' layout:
    -> (shard int, n_examples bigint, n_tokens bigint, content_md5
    string) where ``content_md5`` is the md5 of the shard's per-example
    token digests concatenated in ``shard_pos`` order — the integrity
    record a training loader checks before trusting a shard file
    (truncated write, re-shard drift, or a single flipped token all
    change it). Pure function of the data: recomputing the manifest
    after any rewrite must reproduce it byte-for-byte.

    Scale shape: one map-side hash per example (the md5 of the token
    CSV — tokens themselves never ride the aggregation), then a per-
    shard sort of DIGEST STRUCTS only (32-byte rows, ~|examples|/
    n_shards per group — the same per-shard order the writer already
    materializes); the aggregate output is one row per shard.
    ``write_shards(manifest=True)`` writes the same aggregation over
    the files it just wrote (read-back — the bytes a loader sees).
    """
    return _manifest_agg(assign_shards(examples, n_shards, id_col=id_col))


def _manifest_agg(assigned: DataFrame) -> DataFrame:
    """The manifest aggregation over any (shard, shard_pos, tokens)
    frame — shared by ``shard_manifest`` (over a fresh assignment) and
    ``write_shards``'s read-back sidecar, so the digest recipe cannot
    diverge between the two."""
    slim = assigned.select(
        "shard",
        "shard_pos",
        F.size(F.col("tokens")).cast("long").alias("_nt"),
        F.md5(
            F.concat_ws(
                ",", F.transform(F.col("tokens"), lambda x: x.cast("string"))
            )
        ).alias("_d"),
    )
    return (
        slim.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_examples"),
            F.sum("_nt").cast("long").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("shard_pos", "_d"))
                        ),
                        lambda s: s.getField("_d"),
                    ),
                )
            ).alias("content_md5"),
        )
        .orderBy("shard")
    )


def enforce_token_budget(df: DataFrame, budget) -> DataFrame:
    """Exact per-group token-budget enforcement: keep each group's
    documents in deterministic md5(doc_id|'budget') order until the cumulative
    token count would exceed the group's budget. -> the surviving rows
    plus ``cum_tokens`` (the group's running total INCLUDING the row).
    ``budget`` is an int (every group) or a dict group->int (a group
    absent from the dict keeps nothing — spell every source you want).

    Semantics: the kept set is the maximal HASH-ORDER PREFIX whose
    running sum fits — a long document past the cut is not skipped in
    favor of later short ones (that greedy-skip is a per-group
    recurrence, the pack_documents_greedy territory); the under-fill is
    at most one document's tokens per group, and the prefix rule is
    what makes the operator a pure SQL window — exact, engine-
    reproducible, and monotone in the budget (raising it only adds
    documents).

    Scale shape: ``_subrange_rank`` in VALUE-SUM mode with per-group
    reset (see there); driver work is group cardinality x 256 rows
    (sources/domains, not documents). The group column's type is taken
    from the schema, so integer domain ids work as well as strings.
    """
    spark = df.sparkSession
    ranked, _, _gt = _subrange_rank(
        df,
        "source",
        "doc_id",
        "budget",
        SUB_PREFIX_LEN,
        reset_per_group=True,
        value_col="n_tok",
    )
    gtype = df.schema["source"].dataType.simpleString()
    if isinstance(budget, dict):
        bdf = local_table(
            spark, [(g, int(b)) for g, b in budget.items()], f"source {gtype}, _budget long"
        )
        withb = ranked.join(F.broadcast(bdf), "source", "left").withColumn(
            "_budget", F.coalesce("_budget", F.lit(0))
        )
    else:
        withb = ranked.withColumn(
            "_budget", F.lit(int(budget)).cast("long")
        )
    return (
        withb.withColumn("cum_tokens", F.col("_pos"))
        .filter(F.col("cum_tokens") <= F.col("_budget"))
        .drop("_pos", "_budget")
    )


def assign_shards_stratified(
    examples: DataFrame,
    n_shards: int,
    by: str = "source",
    id_col: str = "example_id",
) -> DataFrame:
    """Stratified shard assignment: every ``by`` group is spread across
    shards EXACTLY round-robin in its own md5 rank order, so each shard
    holds ``ceil/floor(|group| / n_shards)`` of every group — strict
    mixture control per shard file, where ``assign_shards``' global md5
    hash balances sources only in expectation (a small domain can land
    unevenly across a handful of shards). Adds (shard int,
    stratum_pos long): ``stratum_pos`` = the example's 0-based ordinal
    within its (group, shard) cell, in rank order — a per-cell reader
    ordering; readers that want the decorrelated global order can sort
    by md5 downstream exactly as assign_shards documents.

    Scale shape: one ``_subrange_rank`` pass (per-group reset) — no
    single-task window even for one giant group — then two pure
    projections; shard = rank % n_shards is engine-exact integer math.
    """
    if int(n_shards) <= 0:
        raise ValueError("n_shards must be positive")
    ranked, _, _gt = _subrange_rank(
        examples,
        by,
        id_col,
        "shards",
        SUB_PREFIX_LEN,
        reset_per_group=True,
    )
    return (
        ranked.withColumn(
            "shard", F.pmod(F.col("_pos"), F.lit(int(n_shards))).cast("int")
        )
        .withColumn(
            "stratum_pos",
            F.expr(f"_pos div {int(n_shards)}").cast("long"),
        )
        .drop("_pos")
    )


def interleave_key(df: DataFrame, weights: dict) -> DataFrame:
    """Mixture-stable stream ordering by STRIDE SCHEDULING (weighted
    round-robin): adds ``interleave_key`` (a fixed-width sortable
    string) such that reading — or packing — the corpus in key order
    interleaves sources at their weight ratios in every prefix, not
    just in aggregate: weight {a: 2, b: 1} yields a,a,b,a,a,b,...
    This is the deterministic analog of per-step mixture sampling — a
    training run that consumes the stream front-to-back sees the target
    mixture at every point, so curricula/checkpoint-restarts don't
    drift the mixture the way a source-blocked order would.

    Construction: each group's documents take their md5 rank r within
    the group (deterministic shuffle), then the classic stride pass
    number ``(r + 1) * (L / w_g)`` with ``L = lcm(weights)`` — exact
    integers, no float ties — zero-padded into the key, with group and
    id appended for a total order. A group absent from ``weights``
    raises (spell every source, as enforce_token_budget requires).

    Composes with pack_sequences directly:
    ``pack_sequences(interleave_key(df, w), id_col="interleave_key")``
    packs the mixture-stable stream. Scale shape: one
    ``_subrange_rank`` pass (per-group reset, no single-task window)
    plus a pure projection.
    """
    from math import lcm as _lcm

    if not weights:
        raise ValueError("weights must name every group")
    ws = {g: int(w) for g, w in weights.items()}
    if any(w <= 0 for w in ws.values()):
        raise ValueError("weights must be positive integers")
    lcm = _lcm(*ws.values())
    ranked, _, _gt = _subrange_rank(
        df,
        "source",
        "doc_id",
        "interleave",
        SUB_PREFIX_LEN,
        reset_per_group=True,
    )
    stride_pairs = []
    for g, w in ws.items():
        stride_pairs.append((g, lcm // w))
    # Compose-time overflow guard (ADVICE r5): the pass number
    # (rank + 1) * stride must stay inside int64, or a wrapped negative
    # lpads to a '-'-prefixed key that sorts BEFORE every valid key and
    # silently breaks the stride total order. The per-group row counts
    # are already on the driver from the offsets pass — check the exact
    # worst key each group will emit and raise with the remedy.
    for g, n in _gt.items():
        if g not in ws:
            continue  # unweighted group -> the join's raise_error path
        stride = lcm // ws[g]
        if (int(n) + 1) * stride > (1 << 63) - 1:
            raise ValueError(
                f"interleave_key: group {g!r} would emit pass number "
                f"({n} + 1) * {stride} > 2^63 - 1 (weights' lcm is "
                f"{lcm}). Reduce the weights to a smaller common "
                "denominator (only their RATIOS matter) so "
                "lcm(weights) * (rows-per-group + 1) fits in int64."
            )
    spark = df.sparkSession
    gtype = df.schema["source"].dataType.simpleString()
    strides = F.broadcast(
        local_table(spark, stride_pairs, f"source {gtype}, _stride long")
    )
    joined = ranked.join(strides, "source", "left")
    missing = F.when(
        F.col("_stride").isNull(),
        F.raise_error(
            F.concat(
                F.lit("interleave_key: no weight for group "),
                F.col("source").cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("_stride"))
    # pass number bounded by (max rank + 1) * lcm — 19 digits holds any
    # int64. The group rides LENGTH-PREFIXED so the key stays INJECTIVE
    # even when group or id values contain the '|' separator (without
    # the prefix, ('a', 'b|c') and ('a|b', 'c') would collide — and a
    # colliding sort key would make a downstream
    # pack_sequences(id_col="interleave_key") tie-nondeterministic).
    key = F.concat_ws(
        "|",
        F.lpad(((F.col("_pos") + 1) * missing).cast("string"), 19, "0"),
        F.lpad(F.length(F.col("source").cast("string")).cast("string"), 4, "0"),
        F.col("source").cast("string"),
        F.col("doc_id").cast("string"),
    )
    return joined.withColumn("interleave_key", key).drop("_pos", "_stride")
