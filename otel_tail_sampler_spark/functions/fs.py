"""Small files next to Spark output, through the Hadoop FS API.

Markers are JSON files a job reads back on its next start to tell what an
earlier run left behind. ``path_exists`` lets a reader tell a table that
was never written (read as empty) from one that fails to read (raise).
The Hadoop FS API reaches every filesystem the session can (local, HDFS,
object stores), not just the driver's disk.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _hadoop_path(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, path


def read_marker(spark: SparkSession, path_str: str) -> dict | None:
    """The marker's payload, or None when it is absent or was truncated by
    an interrupted run (the caller then recomputes what it records)."""
    jvm, fs, path = _hadoop_path(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return json.loads(text)
    except ValueError:
        return None


def write_marker(spark: SparkSession, path_str: str, payload: dict) -> None:
    _, fs, path = _hadoop_path(spark, path_str)
    out = fs.create(path, True)
    try:
        out.write(bytearray(json.dumps(payload, sort_keys=True).encode()))
    finally:
        out.close()


def path_exists(spark: SparkSession, path_str: str) -> bool:
    _, fs, path = _hadoop_path(spark, path_str)
    return bool(fs.exists(path))
