"""SparkSession factory for the tail-sampling jobs.

It sets only what Spark does not default to and every job needs. A job
that needs more pins it at its own write (``write_routed`` pins the
partition overwrite mode). Master and shuffle partitions come from the
launcher unless the caller passes them.

On a local master the session also starts its Python workers through
``otel_tail_sampler_spark._daemon`` (``spark.python.daemon.module``),
which drops Spark's own archives from the worker path before it starts
pyspark's daemon: with them on it, every Python task re-reads their
central directories (about 0.23 CPU-s a task, ``pyspark/worker_util.py:
144``), which dwarfs a micro-batch's state fold. The package's parent
directory goes on the executors' ``PYTHONPATH`` (unless it is a site
directory), so the daemon imports the package whatever the working
directory. A cluster master keeps Spark's own daemon: its executors may
receive the package only through ``--py-files``, which arrive after the
daemon starts.
"""

from __future__ import annotations

import os
import re
import site

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_WORKER_PATH = "spark.executorEnv.PYTHONPATH"
# the checkout, --py-files zip or site directory this package is imported from
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    conf = {
        "spark.app.name": app_name,
        # Arrow for every driver-built table and pandas-UDF operator
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # a small kept-trace batch broadcasts into the streaming job's
        # semi-join of its spans (stream_job.route_spans_from) instead of
        # shuffling the span table
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY")
        or default_driver_memory(master or "local[*]"),
        "spark.ui.enabled": "false",
    }
    if master is not None:
        conf["spark.master"] = master
    conf.update(extra_conf or {})
    if shuffle_partitions is not None:
        conf[_SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    # start (or join) the JVM with these settings, as getOrCreate would,
    # to read the master and worker path the launcher set
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    launched = SparkConf()
    resolved = conf.get("spark.master") or launched.get("spark.master", "local[*]")
    if _LOCAL_MASTER.fullmatch(resolved):
        conf["spark.python.daemon.module"] = "otel_tail_sampler_spark._daemon"
        user_path = conf.get(_WORKER_PATH) or launched.get(_WORKER_PATH, "")
        # a site directory is on every worker's path already, after the stdlib
        path = [
            p for p in (_PACKAGE_PARENT, user_path) if p and p not in site.getsitepackages()
        ]
        if path:
            conf[_WORKER_PATH] = os.pathsep.join(path)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    launcher_set = sc.getConf().contains(_SHUFFLE_PARTITIONS)
    if _SHUFFLE_PARTITIONS not in conf and not launcher_set and sc.master.startswith("local"):
        spark.conf.set(_SHUFFLE_PARTITIONS, str(sc.defaultParallelism))
    return spark
