"""Small files next to Spark output, through the Hadoop FS API.

Markers are JSON files a job reads back on its next start to tell what an
earlier run left behind. A marker is written to a temp file and renamed
over the old one, so a crash mid-write leaves the old marker whole.
``path_exists`` lets a reader tell a table that was never written (read
as empty) from one that fails to read (raise).
The Hadoop FS API reaches every filesystem the session can (local, HDFS,
object stores), not just the driver's disk.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _hadoop_path(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, path


def read_marker(spark: SparkSession, path_str: str) -> dict | None:
    """The marker's payload, or None when it is absent, truncated, or fails
    its checksum because something other than ``write_marker`` rewrote it
    (the caller then recomputes what it records, or refuses to guess)."""
    jvm, fs, path = _hadoop_path(spark, path_str)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        text = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    except Py4JJavaError as ex:
        name = ex.java_exception.getClass().getName()
        if name != "org.apache.hadoop.fs.ChecksumException":
            raise
        return None
    finally:
        stream.close()
    try:
        return json.loads(text)
    except ValueError:
        return None


def write_marker(spark: SparkSession, path_str: str, payload: dict) -> None:
    jvm, fs, path = _hadoop_path(spark, path_str)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path_str}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(payload, sort_keys=True).encode()))
    finally:
        out.close()
    # FileSystem.rename will not replace an existing file on the local FS;
    # FileContext's OVERWRITE rename does, atomically, checksum file included
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        path.toUri(), spark._jsc.hadoopConfiguration()
    )
    fc.rename(tmp, path, opts)


def path_exists(spark: SparkSession, path_str: str) -> bool:
    _, fs, path = _hadoop_path(spark, path_str)
    return bool(fs.exists(path))
