"""Driver-built tables that run without a Python worker.

``spark.createDataFrame(<python list>)`` plans ``Scan ExistingRDD`` over a
PythonRDD, so every action on the frame starts Python worker tasks just to
unpickle a handful of rows. Each such task pays a fixed start-up cost,
mostly pyspark's ``setup_spark_files`` re-reading the ``pyspark.zip``
directory once per cached zipimporter on Python 3.11. On a 4-core host
that made a four-row table write cost about 1.1 CPU-s, against about 0.3
for the same rows handed over as one Arrow table, which plans a
``LocalTableScan``: the JVM owns the rows and no Python task ever runs.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_table(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """``rows`` (tuples in schema column order) as a ``LocalTableScan``.

    ``schema`` is a DDL string or a StructType; the frame keeps its column
    types and nullability exactly (a ``NOT NULL`` column stays
    non-nullable, which is what a written parquet file records). Zero rows
    give an empty, well-typed frame."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
