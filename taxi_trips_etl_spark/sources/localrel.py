"""Small driver-built DataFrames as JVM local relations.

Driver-built results (graph iterations, BPE merge tables,
connected-components mappings, the zone dim, one-row metric frames)
are small by construction: broadcast or crossJoined downstream, never
scanned in parallel. ``spark.createDataFrame(list, schema)`` makes
them a PythonRDD, and every action over it needs a Python worker (on a
cold local[4] session each such job waited ~1.7 s, mostly on worker
start). ``local_rows`` ships the rows to the JVM as one Arrow table
instead, kept as a ``LocalRelation`` (``LocalTableScan``): no action
over it starts a Python worker, and collecting it runs no Spark job.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_rows(
    spark: SparkSession, rows: Iterable, schema: str | StructType
) -> DataFrame:
    """``createDataFrame(rows, schema)`` as a JVM ``LocalRelation``.

    ``schema`` is a DDL string (``"id long, name string"``) or a
    ``StructType``; ``rows`` are tuples in schema order, possibly none.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    data = rows if isinstance(rows, list) else list(rows)
    columns = [
        pa.array([row[i] for row in data], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
