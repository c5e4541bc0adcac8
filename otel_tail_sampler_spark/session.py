"""SparkSession factory tuned for the tail-sampling pipeline.

The defaults encode the scale posture from SURVEY.md §4/§7: AQE on (runtime
coalesce + skew-join splitting), Arrow on (the parser is an Arrow-vectorized
stage), partition sizing that survives a 100x scale-up by being configured,
not hard-coded.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")


def default_driver_memory(master: str) -> str:
    """Driver heap for ``master``: 0.5 GiB per core of ``local[N]`` (all
    host cores for ``local[*]``), never under 8 GiB; ``local[32]`` ->
    ``16g``.

    local[N] runs every executor thread inside the driver JVM, so the heap
    follows the concurrency (result collects + 32-way execution GC-thrash
    an 8 GiB heap). A non-local master gets the floor: its executors are
    sized by the cluster manager."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return "8g"
    n = m.group(1) or "1"
    cores = (os.cpu_count() or 1) if n == "*" else int(n)
    return f"{max(8, -(-cores // 2))}g"


def build_session(
    app_name: str = "otel-tail-sampler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with pipeline defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster callers pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting — the
        # heavy-hitter trace shape (1% of traces w/ 20k spans) makes the
        # routing join skewed; AQE splits oversized join partitions.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow everywhere Python touches data (parser, pandas UDF ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Input split sizing: 128 MiB splits keep per-task memory bounded at
        # any table size (the lever that scales to 100 TB, not a row count).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Per-file open cost (guide §6): the 4 MiB default floors the split
        # size at 4 MiB, which serializes scans of small-file tables (a
        # 4 MB file can never split). 1 MiB keeps the tiny-file guard but
        # lets totalBytes/minPartitionNum (defaulting to the session
        # parallelism) actually spread a small table across the cores; at
        # lake scale totalBytes dominates and this knob is inert.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Broadcast threshold: rule/dim tables are tiny; 64 MiB is safe.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(master),
        )
        .config("spark.ui.enabled", "false")
        # Dynamic partition overwrite -> idempotent per-partition sink commits
        # (the checkpoint/resume contract in plans.checkpoint).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
