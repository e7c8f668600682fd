"""Axis -> bin-index expression generation.

:func:`bin_sql` is the one renderer: SQL text that Spark and DuckDB
parse the same way, so the engine (``fill``, ``windowed_histogram``)
and the DuckDB oracles (``fill_sql``, the query registry) bin with
textually identical SQL.  Numbers are rendered as DOUBLE literals (an
exponent, or ``CAST('inf' AS DOUBLE)``), so both engines compare and
multiply with exactly the double Python computed; ``scale`` is
precomputed in Python, and the arithmetic is
``floor((x - lo) * scale)`` on both sides.

Two axis kinds reach the engine as a Column from :func:`_column_bin`
instead of SQL text:

* pinned string categories: Spark reads ``'a\\b'`` as 2 characters and
  DuckDB as 3, so the category list never enters Spark SQL text;
* Variable axes above ``VARIABLE_UDF_THRESHOLD`` bins: an Arrow-batched
  numpy searchsorted (O(log n) per row) instead of an O(n) CASE chain.

Semantics (boost-histogram axis contract, SURVEY.md §1.2):
  * Regular/Variable: half-open bins [e_i, e_{i+1}); x < lo -> underflow
    (index -1); x >= hi, NULL and NaN -> overflow (index n).
  * Category axes group on the raw value; with ``growth`` the bin space
    is discovered by the aggregation itself.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .spec import (
    Axis,
    Boolean,
    Integer,
    IntCategory,
    Regular,
    StrCategory,
    Variable,
)

__all__ = ["bin_sql", "CATEGORY_OVERFLOW"]

# Sentinel bin value for out-of-set values on a pinned (growth=False)
# category axis: SQL NULL.  NULL cannot collide with any real category
# (boost category axes reject missing values), groupBy collapses all
# out-of-set rows into ONE sparse row (bounded state even when the
# out-of-set value space is huge), and dense materialization routes it
# to the axis's single overflow slot (result.py).
CATEGORY_OVERFLOW = None

# Variable axes beyond this many bins switch from a chained-CASE
# expression (O(n) per row, codegen) to an Arrow-batched numpy
# searchsorted pandas_udf (O(log n), vectorized).
VARIABLE_UDF_THRESHOLD = 512


def _variable_bin_searchsorted(x: Column, edges: tuple) -> Column:
    """Large-edge-list Variable binning: vectorized np.searchsorted over
    Arrow batches.  Identical semantics to the CASE form: half-open
    [e_i, e_{i+1}) bins, x < e_0 -> -1, x >= e_last / NaN / NULL -> n."""
    from pyspark.sql import types as T

    e = np.asarray(edges, dtype=np.float64)
    n = len(e) - 1

    @F.pandas_udf(T.LongType())
    def bin_udf(s: pd.Series) -> pd.Series:
        v = s.to_numpy(dtype=np.float64, na_value=np.nan)
        idx = np.searchsorted(e, v, side="right").astype(np.int64) - 1
        idx[v < e[0]] = -1
        idx[(v >= e[-1]) | np.isnan(v)] = n
        return pd.Series(idx)

    return bin_udf(x)


def _column_bin(axis: Axis, col) -> Column | None:
    """The bin-index Column of an axis that Spark SQL text must not
    carry (see the module docstring), else None: bin it with
    :func:`bin_sql`.  ``col`` is a Column or a column name."""
    pinned_str = (isinstance(axis, StrCategory) and not axis.growth
                  and axis.categories)
    big_variable = (isinstance(axis, Variable)
                    and axis.nbins > VARIABLE_UDF_THRESHOLD)
    if not (pinned_str or big_variable):
        return None
    col = F.col(col) if isinstance(col, str) else col
    if big_variable:
        return _variable_bin_searchsorted(col.cast("double"), axis.edge_list)
    v = col.cast("string")
    return F.when(v.isin(*axis.categories), v).otherwise(F.lit(CATEGORY_OVERFLOW))


def _sql_double(v: float) -> str:
    """A DOUBLE literal both engines parse to exactly ``float(v)`` (a
    bare ``-4.0`` is a DECIMAL in both)."""
    v = float(v)
    if not math.isfinite(v):
        return f"CAST('{v}' AS DOUBLE)"
    r = repr(v)
    return r if "e" in r else f"{r}E0"


def bin_sql(axis: Axis, col: str) -> str:
    """The bin index of SQL expression ``col`` on ``axis`` (BIGINT;
    category axes: the raw value, or NULL outside pinned categories)."""
    x = f"CAST({col} AS DOUBLE)"
    flow = f"CASE WHEN {col} IS NULL OR isnan({x}) THEN {axis.nbins} "
    if isinstance(axis, Regular):
        n, lo, hi = axis.n, _sql_double(axis.lo), _sql_double(axis.hi)
        scale = _sql_double(n / (float(axis.hi) - float(axis.lo)))
        return (
            f"{flow}WHEN {x} < {lo} THEN -1 WHEN {x} >= {hi} THEN {n} "
            f"ELSE LEAST(CAST(FLOOR(({x} - {lo}) * {scale}) AS BIGINT), "
            f"{n - 1}) END"
        )
    if isinstance(axis, Variable):
        edges = [_sql_double(e) for e in axis.edge_list]
        n = axis.nbins
        whens = " ".join(f"WHEN {x} < {edges[i + 1]} THEN {i}" for i in range(n))
        return (
            f"CAST({flow}WHEN {x} >= {edges[-1]} THEN {n} "
            f"WHEN {x} < {edges[0]} THEN -1 {whens} ELSE {n - 1} END AS BIGINT)"
        )
    if isinstance(axis, Integer):
        n, lo, hi = axis.nbins, axis.lo, axis.hi
        return (
            f"{flow}WHEN {x} < {_sql_double(lo)} THEN -1 "
            f"WHEN {x} >= {_sql_double(hi)} THEN {n} "
            f"ELSE CAST(FLOOR({x}) AS BIGINT) - {lo} END"
        )
    if isinstance(axis, Boolean):
        return f"CAST(CASE WHEN CAST({col} AS BOOLEAN) THEN 1 ELSE 0 END AS BIGINT)"
    if isinstance(axis, (IntCategory, StrCategory)):
        cast = "BIGINT" if isinstance(axis, IntCategory) else "STRING"
        v = f"CAST({col} AS {cast})"
        if not axis.growth and axis.categories:
            if isinstance(axis, IntCategory):
                in_list = ", ".join(str(int(c)) for c in axis.categories)
            else:
                # DuckDB text only; the engine bins these with _column_bin
                in_list = ", ".join(
                    "'" + str(c).replace("'", "''") + "'" for c in axis.categories
                )
            return f"CASE WHEN {v} IN ({in_list}) THEN {v} ELSE NULL END"
        return v
    raise TypeError(f"unsupported axis type: {type(axis).__name__}")
