"""Driver-local DataFrames as true LocalRelations, landed through Arrow.

``spark.createDataFrame(rows)`` over Python rows parallelizes them into
an RDD-backed plan (``Scan ExistingRDD``): every materialization — a
collect, a broadcast build — is a cluster job of near-empty tasks.  The
same data handed over as a ``pyarrow.Table`` plans as a
``LocalTableScan`` with the exact requested schema (nullability, maps,
structs, decimals, timestamps included) at any size: broadcast builds
over it and collects of it run on the driver with zero jobs.  Fidelity
is pinned by tests/test_operators.py::test_local_relation_matches_create.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["local_relation"]


def local_relation(spark, data, schema) -> DataFrame:
    """``data`` (a ``pyarrow.Table`` or a sequence of Rows/tuples) with
    ``schema`` (StructType or DDL string) as a LocalTableScan-backed
    DataFrame."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not isinstance(data, pa.Table):
        arrow = to_arrow_schema(schema)
        cols = list(zip(*data)) or [()] * len(arrow)
        data = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow)
    return spark.createDataFrame(data, schema)
