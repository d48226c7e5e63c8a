"""local_rows: driver-built frames as JVM local relations.

Every type its callers hand it round-trips unchanged (longs, ints,
strings, float arrays, NULLs, zero rows, DDL or StructType schemas),
and the plan is a ``LocalTableScan``, so no action over the frame
needs a Python worker. The same check runs on a vanilla
``SparkSession.builder.master('local[4]')`` in a fresh process, since
the driver contract (``__spark_entry__.py``) hands the engine a
session built without any of ``session.get_spark``'s configs.
"""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql.types import LongType, StructField, StructType

from taxi_trips_etl_spark.sources.localrel import local_rows

CASES = [
    (
        "n long, i int, s string, v array<float>",
        [
            (1, 2, "a", [0.5, 1.25]),
            (None, None, None, None),
            (-(2**63), 2**31 - 1, "é✓ multibyte", [None, -3.0]),
            (0, 0, "", []),
        ],
    ),
    ("n long", [(7,)]),
    ("n long, s string", []),
    (
        StructType([
            StructField("doc_id", LongType(), False),
            StructField("component_id", LongType(), True),
        ]),
        [(3, 1), (1, 1), (2, None)],
    ),
]


def check_round_trip(spark) -> None:
    for schema, rows in CASES:
        df = local_rows(spark, iter(rows), schema)
        want = (
            schema if isinstance(schema, StructType)
            else StructType.fromDDL(schema)
        )
        assert df.schema == want, (df.schema, want)
        assert [tuple(r) for r in df.collect()] == rows
        assert df.count() == len(rows)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan, plan


def test_local_rows_round_trip(spark):
    check_round_trip(spark)


def test_local_rows_on_vanilla_session():
    here = os.path.dirname(os.path.abspath(__file__))
    script = (
        "import sys; sys.path[:0] = [%r, %r]\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[4]').getOrCreate()\n"
        "import test_localrel\n"
        "test_localrel.check_round_trip(spark)\n"
        "spark.stop()\n"
        "print('ROUND_TRIP_OK')\n"
    ) % (here, os.path.dirname(here))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300,
    )
    assert "ROUND_TRIP_OK" in proc.stdout, proc.stderr[-4000:]
