"""SparkSession factory for the tail-sampling jobs.

It sets only what Spark does not default to and every job needs. A job
that needs more pins it at its own write (``write_routed`` pins the
partition overwrite mode). Master and shuffle partitions come from the
launcher unless the caller passes them.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


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

    ``master=None`` leaves the master to the launcher: spark-submit's
    ``--master``, or ``local[*]`` when started from plain Python.
    ``shuffle_partitions=None`` keeps a launcher-set value; otherwise a
    local master gets one partition per core (``local[N]`` -> N) and a
    cluster master Spark's default.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # Arrow for every driver-built table and pandas-UDF operator
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # a small kept-trace batch broadcasts into the streaming job's
        # semi-join of its spans (stream_job.route_spans_from) instead of
        # shuffling the span table
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY")
            or default_driver_memory(master or "local[*]"),
        )
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    conf = dict(extra_conf or {})
    if shuffle_partitions is not None:
        conf[_SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    launcher_set = sc.getConf().contains(_SHUFFLE_PARTITIONS)
    if _SHUFFLE_PARTITIONS not in conf and not launcher_set and sc.master.startswith("local"):
        spark.conf.set(_SHUFFLE_PARTITIONS, str(sc.defaultParallelism))
    return spark
