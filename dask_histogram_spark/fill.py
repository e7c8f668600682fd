"""Fill: the core dataflow operator — partitioned histogram aggregation.

Reference parity map (SURVEY.md §2.1):

* ``fill``               -> reference ``factory`` (core.py:1190-1310):
  the whole partitioned-fill + tree-reduce pipeline collapses into one
  declarative ``df.selectExpr(binSql).groupBy(bins).agg(storageAggs)``.
  Spark's hash aggregate runs the per-partition partial phase (the
  reference's ``_blocked_*`` kernels, core.py:63-257) and the exchange +
  final phase (the reference's ``_reduction`` tree, core.py:856-885)
  natively; the shuffle payload is <= nbins rows per partition.
* ``fill_multi``         -> ``_partitioned_histogram_multifill``
  (core.py:978-1005): staged fills read each source relation once,
  ahead of a single aggregation — the reference's touch-each-partition-
  once property.  Fills are grouped by the relation they read (the
  analyzed plan under its deterministic ``Filter``s), so ``df`` and
  ``df.where(p)`` share one scan; distinct relations are unioned.
* ``fill_partitioned``   -> ``partitioned_factory`` (core.py:1313-1344):
  keeps ``spark_partition_id()`` as an extra group key.
* ``collapse``           -> ``PartitionedHistogram.collapse``
  (core.py:841-843): re-aggregates partials over the bin keys.

Projections are SQL text from :func:`~.binning.bin_sql` and aggregates
come from ``_storage_aggs_sql``: the text the DuckDB oracle
(:func:`fill_sql`) runs.  Apart from Variable axes above 512 bins (a
pandas_udf), everything is a built-in expression, so the fill stays
inside whole-stage codegen and Catalyst is free to push
filters/pruning into the scan.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from numbers import Number
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .binning import _column_bin, _sql_double, bin_sql
from .spec import HistogramSpec, Storage

__all__ = ["fill", "fill_multi", "fill_partitioned", "collapse",
           "FillSpec", "fill_sql", "factory", "partitioned_factory",
           "PartitionedHistogram", "sparse_schema"]

ColumnLike = Union[str, Column]
WeightLike = Union[str, Column, float, int, None]


def _quote(name: str) -> str:
    """A column name as SQL text, resolved the way ``F.col(name)`` is."""
    if "`" in name:
        return name
    return ".".join(f"`{p}`" for p in name.split("."))


def _merge_aggs(spec: HistogramSpec) -> list[Column]:
    """Re-aggregation of already-partial accumulators (the monoid merge,
    reference ``hist_safe_sum`` core.py:37-38): every accumulator column
    is summed."""
    return [F.sum(F.col(c)).alias(c) for c in spec.value_cols]


def _aggs(spec: HistogramSpec, weighted: bool) -> list[Column]:
    """Aggregation expressions per storage type (SURVEY.md §2.4)."""
    return [F.expr(a) for a in _storage_aggs_sql(spec, weighted)]


@dataclass(frozen=True)
class FillSpec:
    """One staged fill: data columns (one per axis) + weight/sample."""

    df: DataFrame
    cols: tuple
    weight: WeightLike = None
    sample: ColumnLike | None = None


def _fill_items(spec: HistogramSpec, bins: Sequence[str], weight: str | None,
                sample: str | None, weighted: bool) -> list[tuple[str, str]]:
    """One fill's ``(sql, name)`` projection from SQL text for its bin
    indices, weight and sample; engine and oracle share it.  Scalar
    weights broadcast to all rows (reference tests/test_core.py:350-359);
    samples carry the spec's stability shift (HistogramSpec.sample_shift)."""
    items = list(zip(bins, spec.bin_cols))
    if weighted:
        items.append((f"CAST({weight or '1.0E0'} AS DOUBLE)", "__w"))
    if spec.storage.needs_sample:
        s = f"CAST({sample or 'NULL'} AS DOUBLE)"
        if spec.sample_shift:
            s = f"({s} - {_sql_double(spec.sample_shift)})"
        items.append((s, "__s"))
    return items


def _as(items: list[tuple[str, str]]) -> list[str]:
    return [f"{e} AS {n}" for e, n in items]


def _ref(c: ColumnLike, pre: list) -> str:
    """SQL text for a raw fill input: a name as an identifier, a Column
    as ``__i<k>`` of the pre-projection ``pre``."""
    if isinstance(c, str):
        return _quote(c)
    pre.append(c.alias(f"__i{len(pre)}"))
    return f"__i{len(pre) - 1}"


def _with_inputs(df: DataFrame, pre: list) -> DataFrame:
    return df.select("*", *pre) if pre else df


def _fill_text(spec: HistogramSpec, f: FillSpec, weighted: bool,
               pre: list) -> list[tuple[str, str]]:
    """The engine's projection of one fill as SQL text; Column inputs
    (and the bins :func:`~.binning._column_bin` makes) go to ``pre``."""
    if len(f.cols) != spec.ndim:
        raise ValueError(
            f"fill needs one column per axis ({spec.ndim}); got {len(f.cols)}"
        )
    if spec.storage.needs_sample and f.sample is None:
        raise ValueError(f"storage {spec.storage.value} requires a sample")
    bins = []
    for ax, c in zip(spec.axes, f.cols):
        col = _column_bin(ax, c)
        bins.append(_ref(col, pre) if col is not None else bin_sql(ax, _ref(c, pre)))
    w = f.weight
    if w is not None:
        w = _sql_double(w) if isinstance(w, Number) else _ref(w, pre)
    s = None if f.sample is None else _ref(f.sample, pre)
    return _fill_items(spec, bins, w, s, weighted)


def fill(
    df: DataFrame,
    cols: Sequence[ColumnLike],
    spec: HistogramSpec,
    weight: WeightLike = None,
    sample: ColumnLike | None = None,
) -> DataFrame:
    """Fill a histogram: returns the sparse aggregated DataFrame
    ``(bin_0..bin_{k-1}, <accumulators>)``.

    The plan is a single scan -> project(bin exprs) -> hash aggregate;
    partial aggregation per input partition and the final merge are
    Spark's native two-phase agg (SURVEY.md §3, lifecycle A).

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> import dask_histogram_spark as dhs
    >>> spark = get_spark("doctest", cpus=2)
    >>> df = spark.createDataFrame([(0.5,), (1.5,), (1.7,), (3.5,)], "x double")
    >>> spec = dhs.HistogramSpec(axes=(dhs.Regular(4, 0.0, 4.0),),
    ...                          storage=dhs.Storage.DOUBLE)
    >>> h = dhs.AggHistogram(dhs.fill(df, ["x"], spec), spec)
    >>> h.values().tolist()
    [1.0, 2.0, 0.0, 1.0]
    """
    return fill_multi([FillSpec(df, tuple(cols), weight, sample)], spec)


def _peel(df: DataFrame):
    """``df``'s analyzed plan under its top Filters, and their conditions
    (JVM expressions).  Peeling stops at a non-deterministic condition
    or one with a subquery: those stay part of the relation."""
    plan = df._jdf.queryExecution().analyzed()
    conds = []
    while plan.nodeName() == "Filter":
        c = plan.condition()
        if not c.deterministic() or not plan.subqueries().isEmpty():
            break
        conds.append(c)
        plan = plan.child()
    return plan, conds


def _sources(fills: Sequence[FillSpec]) -> list[tuple[DataFrame, list, list]]:
    """Group staged fills by the relation they read, as
    ``(source, fills, conds)``: a fill whose cond is a Column reads only
    the source rows where it is true.

    Two fills share a relation when their analyzed plans under the
    peeled Filters are equal (``.equals``, so expression IDs match, as
    for ``df`` and ``df.where(p)``; two separate reads of one path do
    not).  A chain of ``where``s folds to the AND of its conditions.  A
    group reads the unfiltered member's DataFrame, or, when every member
    is filtered, the peeled plan under the OR of their conditions, so
    the scan keeps a pushed-down filter.  A group reading one DataFrame
    (a lone fill above all) keeps that DataFrame and its own filters.
    """
    if len({id(f.df) for f in fills}) == 1:
        return [(fills[0].df, list(fills), [None] * len(fills))]
    peeled: dict = {}
    groups: list = []
    for f in fills:
        if id(f.df) not in peeled:
            peeled[id(f.df)] = _peel(f.df)
        plan, conds = peeled[id(f.df)]
        for g in groups:
            if g[0] is plan or g[0].equals(plan):
                g[1].append(f)
                break
        else:
            groups.append((plan, [f]))
    out = []
    for plan, fs in groups:
        if len({id(f.df) for f in fs}) == 1:
            out.append((fs[0].df, fs, [None] * len(fs)))
            continue
        spark = fs[0].df.sparkSession
        jvm = spark._jvm.org.apache.spark.sql.classic
        cond = {}
        for f in fs:
            exprs = peeled[id(f.df)][1]
            cond.setdefault(id(f.df), reduce(operator.and_, [
                Column(jvm.ExpressionUtils.column(c)) for c in exprs
            ]) if exprs else None)
        conds = [cond[id(f.df)] for f in fs]
        if all(c is not None for c in conds):
            base = DataFrame(jvm.Dataset.ofRows(spark._jsparkSession, plan), spark)
            base = base.where(reduce(operator.or_, cond.values()))
        else:
            base = next(f.df for f, c in zip(fs, conds) if c is None)
        out.append((base, fs, conds))
    return out


def fill_multi(fills: Sequence[FillSpec], spec: HistogramSpec) -> DataFrame:
    """Multiple staged fills -> one aggregation (reference multifill,
    core.py:978-1005).

    Each source relation is scanned once (grouping: :func:`_sources`).
    Within a group, each distinct fill projection is one
    ``named_struct`` computed once per row, and each row explodes into
    one struct per fill; a filtered fill's element is
    ``IF(cond, struct, NULL)`` and NULLs are dropped after the explode,
    so a row whose condition is NULL is dropped as ``WHERE`` drops it.
    Groups are unioned ahead of the single aggregation.

    Sharing the struct matters: 25 fills of one projection under 25
    filters, each inlined in the explode, ran 20x slower.  The
    conditions go into the explode, not the projection: constraint
    propagation doubles a Project's constraint set for every alias of
    an expression in the OR pre-filter below it (2^25 for 25 fills).
    """
    if not fills:
        raise ValueError("need at least one fill")
    weighted = any(f.weight is not None for f in fills) or spec.storage.needs_weight
    parts = []
    for df, fs, conds in _sources(fills):
        pre: list = []
        rows = [_fill_text(spec, f, weighted, pre) for f in fs]
        src = _with_inputs(df, pre)
        if len(rows) == 1:
            parts.append(src.selectExpr(*_as(rows[0])))
            continue
        texts = ["named_struct(" + ", ".join(f"'{n}', {e}" for e, n in items)
                 + ")" for items in rows]
        alias: dict = {}
        for t in texts:
            alias.setdefault(t, f"__s{len(alias)}")
        src = src.selectExpr("*", *(f"{t} AS {a}" for t, a in alias.items()))
        structs = {a: F.col(a) for a in alias.values()}
        elems = [structs[alias[t]] if c is None else F.when(c, structs[alias[t]])
                 for t, c in zip(texts, conds)]
        part = src.select(F.explode(F.array(*elems)).alias("__f"))
        if any(c is not None for c in conds):
            part = part.where("__f IS NOT NULL")
        parts.append(part.select("__f.*"))
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(*spec.bin_cols).agg(*_aggs(spec, weighted))


def fill_partitioned(
    df: DataFrame,
    cols: Sequence[ColumnLike],
    spec: HistogramSpec,
    weight: WeightLike = None,
    sample: ColumnLike | None = None,
) -> DataFrame:
    """Explicit partitioned form: one partial histogram per input
    partition, keyed by ``part_id`` (reference ``partitioned_factory``,
    core.py:1313-1344).  ``collapse`` re-aggregates to the final form."""
    weighted = weight is not None or spec.storage.needs_weight
    pre: list = []
    items = _fill_text(spec, FillSpec(df, tuple(cols), weight, sample),
                       weighted, pre)
    proj = _with_inputs(df, pre).selectExpr(
        "spark_partition_id() AS part_id", *_as(items))
    return proj.groupBy("part_id", *spec.bin_cols).agg(*_aggs(spec, weighted))


def collapse(partials: DataFrame, spec: HistogramSpec) -> DataFrame:
    """Merge partial histograms into the final aggregate (reference
    ``collapse``/``_reduction``, core.py:841-885).  ``split_every`` has
    no analog: the exchange distributes the merge by bin key."""
    return partials.groupBy(*spec.bin_cols).agg(*_merge_aggs(spec))


def sparse_schema(spec: HistogramSpec):
    """Spark schema of the sparse fill result for ``spec`` — what
    :func:`fill` produces.  Used to build the zero-row DataFrame behind
    an EMPTY histogram's compute (reference parity: an unfilled
    histogram computes to all zeros, boost.py:85-102)."""
    from pyspark.sql import types as T

    from .spec import StrCategory

    fields = []
    for ax, name in zip(spec.axes, spec.bin_cols):
        dt = T.StringType() if isinstance(ax, StrCategory) else T.LongType()
        fields.append(T.StructField(name, dt))
    for c in spec.value_cols:
        int_col = c == "count" or spec.storage.int_valued
        fields.append(
            T.StructField(c, T.LongType() if int_col else T.DoubleType())
        )
    return T.StructType(fields)


# ---------------------------------------------------------------------------
# Aggregates as SQL text (engine and DuckDB oracle alike)
# ---------------------------------------------------------------------------

def _storage_aggs_sql(spec: HistogramSpec, weighted: bool) -> list[str]:
    st = spec.storage
    if st is Storage.DOUBLE:
        if weighted:
            return ["SUM(__w) AS value"]
        return ["CAST(COUNT(*) AS DOUBLE) AS value"]
    if st in (Storage.INT64, Storage.ATOMIC_INT64):
        return ["COUNT(*) AS value"]
    if st is Storage.WEIGHT:
        if weighted:
            return ["SUM(__w) AS value", "SUM(__w * __w) AS sumw2"]
        return [
            "CAST(COUNT(*) AS DOUBLE) AS value",
            "CAST(COUNT(*) AS DOUBLE) AS sumw2",
        ]
    if st is Storage.MEAN:
        return [
            "COUNT(*) AS count",
            "SUM(__s) AS sum_s",
            "SUM(__s * __s) AS sum_s2",
        ]
    if st is Storage.WEIGHTED_MEAN:
        return [
            "SUM(__w) AS sum_w",
            "SUM(__w * __w) AS sum_w2",
            "SUM(__w * __s) AS sum_ws",
            "SUM(__w * __s * __s) AS sum_ws2",
        ]
    raise AssertionError(st)


def fill_sql(
    table: str,
    cols: Sequence[str],
    spec: HistogramSpec,
    weight_sql: str | None = None,
    sample_sql: str | None = None,
    where: str | None = None,
    round_digits: int | None = 9,
) -> str:
    """DuckDB-compatible SQL computing the same sparse histogram as
    :func:`fill` — generated from the same spec so binning arithmetic is
    textually identical.  Float accumulators are rounded to significant
    digits (oracle.py) to absorb summation-order ULP differences; pair
    with :func:`dask_histogram_spark.oracle.sig_rounded` on the Spark
    side.  ``round_digits=None`` disables rounding.
    """
    from .oracle import sig_round_sql

    weighted = weight_sql is not None or spec.storage.needs_weight
    bins = [bin_sql(ax, c) for ax, c in zip(spec.axes, cols)]
    items = _fill_items(spec, bins, weight_sql, sample_sql, weighted)
    inner = f"SELECT {', '.join(_as(items))} FROM {table}"
    if where:
        inner += f" WHERE {where}"
    aggs = _storage_aggs_sql(spec, weighted)
    if round_digits is not None:
        rounded = []
        for a in aggs:
            expr, alias = a.rsplit(" AS ", 1)
            if alias == "count" or spec.storage.int_valued:
                rounded.append(a)
            else:
                # significant-digit rounding (see oracle.py) so engine
                # and oracle agree despite summation-order ULP noise
                rounded.append(f"{sig_round_sql(expr)} AS {alias}")
        aggs = rounded
    keys = ", ".join(spec.bin_cols)
    return f"SELECT {keys}, {', '.join(aggs)} FROM ({inner}) GROUP BY {keys}"


# ---------------------------------------------------------------------------
# Reference-parity entry points (factory / partitioned_factory)
# ---------------------------------------------------------------------------

class PartitionedHistogram:
    """Partial histograms keyed by input partition — reference
    ``PartitionedHistogram`` (core.py:744-853).  ``collapse()`` merges
    to the final :class:`~.result.AggHistogram`."""

    def __init__(self, partials: DataFrame, spec: HistogramSpec) -> None:
        self.df = partials
        self.spec = spec

    def to_sparse(self) -> DataFrame:
        return self.df

    def collapse(self, split_every: int | None = None):
        """Merge partials (reference core.py:841-843).  ``split_every``
        is accepted for API parity; the exchange distributes the merge,
        so fan-in tuning has no Spark analog."""
        from .result import AggHistogram

        return AggHistogram(collapse(self.df, self.spec), self.spec)

    def __repr__(self) -> str:
        return (f"PartitionedHistogram(ndim={self.spec.ndim}, "
                f"storage={self.spec.storage.value}, lazy-spark-plan)")


def _coerce_spec(spec) -> HistogramSpec:
    """Accept a :class:`HistogramSpec` OR the reference's picklable
    ``histref`` tuple form ``(axes, storage[, metadata])`` (reference
    core.py:66-72; pickle contract tests/test_boost.py:559-571).  Axis
    entries may be axis-shim instances (axis.py) and the storage a
    storage-shim (storage.py) — ``HistogramSpec`` coerces the latter."""
    if isinstance(spec, HistogramSpec):
        return spec
    if isinstance(spec, tuple) and len(spec) in (2, 3):
        axes, storage = spec[0], spec[1]
        metadata = spec[2] if len(spec) == 3 else None
        return HistogramSpec(axes=tuple(axes), storage=storage,
                             metadata=metadata)
    raise TypeError(
        "spec must be a HistogramSpec or an (axes, storage[, metadata]) "
        f"histref tuple; got {spec!r}"
    )


def factory(df: DataFrame, cols: Sequence[ColumnLike], spec,
            weights: WeightLike = None, sample: ColumnLike | None = None,
            split_every: int | None = None,
            keep_partitioned: bool = False):
    """Reference ``factory`` (core.py:1190-1310), Spark-native
    signature: returns a lazy :class:`~.result.AggHistogram`, or a
    :class:`PartitionedHistogram` with ``keep_partitioned=True``
    (reference core.py:1240-1247).  ``split_every`` accepted-and-
    ignored (tree fan-in has no analog; the exchange merges).  ``spec``
    also accepts the reference's ``histref`` tuple spelling
    (:func:`_coerce_spec`)."""
    from .result import AggHistogram

    spec = _coerce_spec(spec)
    if keep_partitioned:
        return PartitionedHistogram(
            fill_partitioned(df, cols, spec, weight=weights, sample=sample),
            spec,
        )
    return AggHistogram(fill(df, cols, spec, weight=weights, sample=sample),
                        spec)


def partitioned_factory(df: DataFrame, cols: Sequence[ColumnLike],
                        spec: HistogramSpec, weights: WeightLike = None,
                        sample: ColumnLike | None = None) -> PartitionedHistogram:
    """Reference ``partitioned_factory`` (core.py:1313-1344)."""
    return factory(df, cols, spec, weights=weights, sample=sample,
                   keep_partitioned=True)
