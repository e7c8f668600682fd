"""AggHistogram: the lazy aggregated-histogram result object.

Reference parity: ``AggHistogram`` (core.py:534-741).  The reference's
single-key lazy collection becomes a lazy sparse DataFrame
``(bin_0..bin_{k-1}, <accumulators>)`` plus the :class:`HistogramSpec`.
Nothing executes until ``.compute()``/``.to_numpy()`` — the Spark plan
is the task graph.

Dense materialization replicates ``to_dask_array`` (core.py:1098-1154):
counts array with int dtype iff Int64 storage (core.py:1138-1142),
edges arrays from the spec, optional ±inf flow padding
(core.py:1147-1149).  The sparse DataFrame stays the primary form —
dense conversion is driver-side and on demand only, so huge-bin-count
histograms never densify on the cluster (same posture as the
reference, where the dense array is one final task, core.py:1133).

Lazy elementwise arithmetic (+,-,*,/) against another histogram, a
scalar, or a dense array replicates ``BinaryOpAgg`` (core.py:1157-1187)
as a full-outer equi-join on bin indices with ``coalesce(., 0)``.
"""

from __future__ import annotations

import operator
from numbers import Number
from typing import Any, Callable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .spec import HistogramSpec, Storage, _CategoryAxis

__all__ = ["AggHistogram", "round_doubles"]


def round_doubles(df: DataFrame, digits: int = 6) -> DataFrame:
    """Round every floating-point column — used so Spark results and the
    SQL oracle hash identically despite summation-order ULP noise."""
    out = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            out.append(F.round(F.col(f.name), digits).alias(f.name))
        else:
            out.append(F.col(f.name))
    return df.select(*out)


class AggHistogram:
    """Lazy sparse histogram result: DataFrame + spec.

    ``df`` columns: one per axis (``bin_0``..; long for numeric axes,
    raw value for category axes) then the storage accumulator columns
    (:attr:`HistogramSpec.value_cols`).
    """

    def __init__(self, df: DataFrame, spec: HistogramSpec,
                 categories: Sequence[tuple] | None = None) -> None:
        self.df = df
        self.spec = spec
        # Pinned category values per axis (None = growth, discovered at
        # materialization and ordered sorted — documented divergence from
        # boost's nondeterministic-on-cluster first-fill order).
        self._categories: list[tuple | None] = list(categories) if categories else [
            (tuple(ax.categories) if isinstance(ax, _CategoryAxis) and not ax.growth else None)
            if isinstance(ax, _CategoryAxis) else None
            for ax in spec.axes
        ]
        self._cached: dict | None = None
        # set by routines.histogram*(density=True); honored by to_numpy
        self._density_requested = False

    # -- plan surface -------------------------------------------------
    @property
    def ndim(self) -> int:
        return self.spec.ndim

    @property
    def axes(self) -> tuple:
        """Axis tuple (boost ``h.axes`` spelling)."""
        return self.spec.axes

    def sum(self, flow: bool = False) -> float:
        """Total of the in-range (or all, with flow) bin values —
        boost ``h.sum()``."""
        return float(self.values(flow=flow).sum())

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)

    def to_sparse(self) -> DataFrame:
        """The sparse result DataFrame — the primary, cluster-friendly form."""
        return self.df

    def rounded(self, digits: int = 6) -> DataFrame:
        return round_doubles(self.df, digits)

    # -- materialization ----------------------------------------------
    def _collect(self) -> dict:
        if self._cached is None:
            rows = self.df.collect()
            self._cached = {"rows": rows}
        return self._cached

    def _axis_categories(self, rows) -> list[list | None]:
        """Resolve category values per axis: pinned list or sorted
        discovered values."""
        cats: list[list | None] = []
        for d, ax in enumerate(self.spec.axes):
            if isinstance(ax, _CategoryAxis):
                if self._categories[d] is not None:
                    cats.append(list(self._categories[d]))
                else:
                    seen = sorted({r[d] for r in rows if r[d] is not None})
                    cats.append(seen)
            else:
                cats.append(None)
        return cats

    def _dense(self, flow: bool = True) -> dict[str, np.ndarray]:
        """Scatter sparse rows into dense accumulator arrays."""
        rows = self._collect()["rows"]
        cats = self._axis_categories(rows)
        shape = []
        offsets = []
        for d, ax in enumerate(self.spec.axes):
            if cats[d] is not None:
                # pinned category axes carry ONE overflow slot (out-of-
                # set / NULL sentinel rows) visible under flow=True
                pinned = self._categories[d] is not None
                shape.append(len(cats[d]) + (1 if (flow and pinned) else 0))
                offsets.append(0)
            else:
                n = ax.nbins
                shape.append(n + 2 if flow else n)
                offsets.append(1 if flow else 0)
        vcols = self.spec.value_cols
        arrays = {c: np.zeros(tuple(shape), dtype=np.float64) for c in vcols}
        catmaps = [
            ({v: i for i, v in enumerate(c)} if c is not None else None)
            for c in cats
        ]
        nd = self.ndim
        for r in rows:
            idx = []
            ok = True
            for d in range(nd):
                if catmaps[d] is not None:
                    j = catmaps[d].get(r[d])
                    if j is None:  # NULL sentinel / out-of-set value
                        if flow and self._categories[d] is not None:
                            j = shape[d] - 1  # pinned axis: overflow slot
                        else:
                            ok = False
                            break
                    idx.append(j)
                else:
                    b = r[d]
                    j = b + offsets[d]
                    if not flow and (b < 0 or b >= self.spec.axes[d].nbins):
                        ok = False
                        break
                    if flow:
                        j = min(max(j, 0), shape[d] - 1)
                    idx.append(j)
            if not ok:
                continue
            t = tuple(idx)
            for k, c in enumerate(vcols):
                v = r[nd + k]
                if v is not None:
                    arrays[c][t] += float(v)
        self._resolved_categories = cats
        return arrays

    def to_numpy(self, flow: bool = False, dd: bool = True,
                 density: bool | None = None):
        """(counts, *edges) — reference ``to_dask_array``/``to_numpy``
        (core.py:1098-1154), eagerly materialized.

        ``density=True`` returns ``np.histogram(density=True)``-style
        normalized values (counts / total / bin volume) instead of raw
        counts; ``None`` defers to the ``density=`` flag given to the
        :mod:`routines` entry point that built this histogram.  (The
        reference accepts-but-ignores ``density`` in its array path —
        routines.py:417-421; here it is wired for real.)
        """
        if density is None:
            density = self._density_requested
        if density:
            if flow:
                raise ValueError("density=True is incompatible with flow=True "
                                 "(flow bins have no width)")
            counts = self.density()
        else:
            counts = self.counts(flow=flow)
        edges = []
        for ax in self.spec.axes:
            e = ax.edges()
            if flow and ax.has_flow:
                e = np.concatenate([[-np.inf], e, [np.inf]])
            edges.append(e)
        if dd:
            return counts, tuple(edges)
        if len(edges) == 1:
            return counts, edges[0]
        return (counts, *edges)

    def values(self, flow: bool = False) -> np.ndarray:
        a = self._dense(flow=flow)
        st = self.spec.storage
        if st in (Storage.DOUBLE, Storage.INT64, Storage.ATOMIC_INT64, Storage.WEIGHT):
            v = a["value"]
            return v.astype(np.int64) if st.int_valued else v
        K = self.spec.sample_shift  # mean = K + shifted-sum / count
        if st is Storage.MEAN:
            with np.errstate(invalid="ignore", divide="ignore"):
                return np.where(a["count"] > 0, K + a["sum_s"] / a["count"], 0.0)
        if st is Storage.WEIGHTED_MEAN:
            with np.errstate(invalid="ignore", divide="ignore"):
                return np.where(a["sum_w"] > 0, K + a["sum_ws"] / a["sum_w"], 0.0)
        raise AssertionError(st)

    def variances(self, flow: bool = False) -> np.ndarray | None:
        a = self._dense(flow=flow)
        st = self.spec.storage
        if st is Storage.WEIGHT:
            return a["sumw2"]
        if st is Storage.MEAN:
            n, s, s2 = a["count"], a["sum_s"], a["sum_s2"]
            with np.errstate(invalid="ignore", divide="ignore"):
                ssd = s2 - np.where(n > 0, s * s / n, 0.0)
                return np.where(n > 1, ssd / (n - 1), 0.0)
        if st is Storage.WEIGHTED_MEAN:
            sw, sw2, sws, sws2 = a["sum_w"], a["sum_w2"], a["sum_ws"], a["sum_ws2"]
            with np.errstate(invalid="ignore", divide="ignore"):
                ssd = sws2 - np.where(sw > 0, sws * sws / sw, 0.0)
                denom = sw - np.where(sw > 0, sw2 / sw, 0.0)
                return np.where(denom > 0, ssd / denom, 0.0)
        return None

    def counts(self, flow: bool = False) -> np.ndarray:
        a = self._dense(flow=flow)
        st = self.spec.storage
        if st.int_valued:
            return a["value"].astype(np.int64)
        if st in (Storage.DOUBLE, Storage.WEIGHT):
            return a["value"]
        if st is Storage.MEAN:
            return a["count"]
        if st is Storage.WEIGHTED_MEAN:
            # effective entries: (sum w)^2 / (sum w^2)
            with np.errstate(invalid="ignore", divide="ignore"):
                return np.where(a["sum_w2"] > 0, a["sum_w"] ** 2 / a["sum_w2"], 0.0)
        raise AssertionError(st)

    def density(self) -> np.ndarray:
        """Proper density normalization: counts / (total * binwidth)
        (implemented for real; the reference accepts-but-ignores
        ``density`` in its array path — SURVEY.md §2.5)."""
        v = self.values(flow=False)
        widths = [ax.widths() for ax in self.spec.axes]
        vol = widths[0]
        for w in widths[1:]:
            vol = np.multiply.outer(vol, w)
        total = v.sum()
        if total == 0:
            return np.zeros_like(v, dtype=np.float64)
        return v / total / vol

    def categories(self, axis: int) -> list | None:
        """Resolved category values (dense index order) for a category
        axis after materialization."""
        if self._categories[axis] is not None:
            return list(self._categories[axis])
        self._dense(flow=False)
        return self._resolved_categories[axis]

    def compute(self) -> "AggHistogram":
        """Execute and cache (API parity with the reference's lazy
        collections; the object stays usable either way)."""
        self._collect()
        return self

    def to_boost(self):
        """Compute and return a concrete ``boost_histogram.Histogram``
        (reference ``AggHistogram.to_boost``, core.py:677-683; the
        reference's postcompute wraps into ``_in_memory_type`` —
        boost.py:139-146 — which downstream libraries isinstance-check).

        Requires the optional ``boost_histogram`` package; raises
        ``ModuleNotFoundError`` with guidance when absent (the engine
        itself never depends on it — numpy accessors cover the data).
        Axis names travel as boost axis ``metadata`` (the picklable
        channel ``hist``-style wrappers read); spec metadata becomes
        ``h.metadata``.
        """
        try:
            import boost_histogram as bh
        except ModuleNotFoundError as e:  # pragma: no cover - env-dependent
            raise ModuleNotFoundError(
                "AggHistogram.to_boost() needs the optional "
                "'boost_histogram' package (pip install boost-histogram); "
                "use .values()/.variances()/.to_numpy() for the same data "
                "as numpy arrays"
            ) from e
        from .spec import Boolean, IntCategory, Integer, Regular, StrCategory, Variable

        def conv_axis(ax, cats):
            if isinstance(ax, Regular):
                out = bh.axis.Regular(ax.n, ax.lo, ax.hi)
            elif isinstance(ax, Variable):
                out = bh.axis.Variable(ax.edge_list)
            elif isinstance(ax, Integer):
                out = bh.axis.Integer(ax.lo, ax.hi)
            elif isinstance(ax, Boolean):
                out = bh.axis.Boolean()
            elif isinstance(ax, IntCategory):
                out = bh.axis.IntCategory(cats or [], growth=ax.growth)
            elif isinstance(ax, StrCategory):
                out = bh.axis.StrCategory(cats or [], growth=ax.growth)
            else:  # pragma: no cover - exhaustive over spec axes
                raise TypeError(type(ax).__name__)
            if ax.name is not None:
                out.metadata = ax.name
            return out

        st = self.spec.storage
        storage = {
            Storage.DOUBLE: bh.storage.Double,
            Storage.INT64: bh.storage.Int64,
            Storage.ATOMIC_INT64: bh.storage.AtomicInt64,
            Storage.WEIGHT: bh.storage.Weight,
            Storage.MEAN: bh.storage.Mean,
            Storage.WEIGHTED_MEAN: bh.storage.WeightedMean,
        }[st]()
        # materialize once; resolves growth-category values too
        a = self._dense(flow=True)
        cats = self._resolved_categories
        h = bh.Histogram(
            *[conv_axis(ax, cats[d]) for d, ax in enumerate(self.spec.axes)],
            storage=storage,
        )
        h.metadata = self.spec.metadata
        view = h.view(flow=True)
        if st in (Storage.DOUBLE, Storage.INT64, Storage.ATOMIC_INT64):
            view[...] = self.values(flow=True)
        elif st is Storage.WEIGHT:
            view["value"] = a["value"]
            view["variance"] = a["sumw2"]
        elif st is Storage.MEAN:
            view["count"] = a["count"]
            view["value"] = self.values(flow=True)
            # boost accumulates sum of squared deltas from the running
            # mean; variance() * (n-1) reconstructs it exactly
            n = a["count"]
            view["_sum_of_deltas_squared"] = (
                self.variances(flow=True) * np.maximum(n - 1, 0)
            )
        elif st is Storage.WEIGHTED_MEAN:
            sw, sw2 = a["sum_w"], a["sum_w2"]
            view["sum_of_weights"] = sw
            view["sum_of_weights_squared"] = sw2
            view["value"] = self.values(flow=True)
            with np.errstate(invalid="ignore", divide="ignore"):
                denom = sw - np.where(sw > 0, sw2 / sw, 0.0)
            view["_sum_of_weighted_deltas_squared"] = (
                self.variances(flow=True) * np.maximum(denom, 0)
            )
        else:  # pragma: no cover - exhaustive
            raise AssertionError(st)
        return h

    def project(self, *axes: int) -> "AggHistogram":
        """Marginalize onto the given axes (sum over the dropped ones) —
        the sparse analog of boost's ``h.project(i, ...)``: a re-group
        of the sparse DataFrame on the kept bin columns.  Flow bins sum
        into the kept space like any other bin.

        Restriction: moment storages (MEAN/WEIGHTED_MEAN) project their
        raw accumulator sums, which is the correct monoid merge.
        """
        if not axes:
            raise ValueError("project needs at least one axis index")
        if any(a < 0 or a >= self.ndim for a in axes):
            raise ValueError(f"axis out of range for ndim={self.ndim}")
        if len(set(axes)) != len(axes):
            raise ValueError("duplicate axis in project")
        keep = [self.spec.bin_cols[a] for a in axes]
        new_spec = HistogramSpec(
            axes=tuple(self.spec.axes[a] for a in axes),
            storage=self.spec.storage,
            metadata=self.spec.metadata,
            # keep K: dropping it would silently unshift projected means
            sample_shift=self.spec.sample_shift,
        )
        grouped = self.df.groupBy(*keep).agg(
            *[F.sum(F.col(c)).alias(c) for c in self.spec.value_cols]
        )
        renamed = grouped.select(
            *[
                F.col(old).alias(new)
                for old, new in zip(keep, new_spec.bin_cols)
            ],
            *[F.col(c) for c in new_spec.value_cols],
        )
        cats = [self._categories[a] for a in axes]
        return AggHistogram(renamed, new_spec, cats)

    # -- lazy arithmetic (BinaryOpAgg, core.py:1157-1187) ---------------
    def _binary(self, other: Any, op: Callable[[Column, Column], Column],
                swap: bool = False) -> "AggHistogram":
        spec = self.spec
        bins = list(spec.bin_cols)
        vcols = list(spec.value_cols)
        if isinstance(other, AggHistogram):
            if other.spec.axes != spec.axes:
                raise ValueError("histogram arithmetic requires identical axes")
            if other.spec.sample_shift != spec.sample_shift:
                raise ValueError(
                    "histogram arithmetic requires identical sample_shift "
                    "(moment accumulators with different shifts don't mix)"
                )
            a = self.df.alias("a")
            b = other.df.alias("b")
            cond = None
            for c in bins:
                eq = F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
                cond = eq if cond is None else (cond & eq)
            joined = a.join(b, cond, "full_outer")
            sel = [
                F.coalesce(F.col(f"a.{c}"), F.col(f"b.{c}")).alias(c) for c in bins
            ]
            for c in vcols:
                lhs = F.coalesce(F.col(f"a.{c}"), F.lit(0.0))
                rhs = F.coalesce(F.col(f"b.{c}"), F.lit(0.0))
                sel.append((op(rhs, lhs) if swap else op(lhs, rhs)).alias(c))
            return AggHistogram(joined.select(*sel), spec, self._categories)
        if isinstance(other, Number):
            lit = F.lit(float(other))
            sel = [F.col(c) for c in bins]
            for c in vcols:
                lhs = F.col(c)
                sel.append((op(lit, lhs) if swap else op(lhs, lit)).alias(c))
            return AggHistogram(self.df.select(*sel), spec, self._categories)
        if isinstance(other, (np.ndarray, list, tuple)):
            arr = np.asarray(other, dtype=np.float64)
            if arr.shape != tuple(ax.nbins for ax in spec.axes):
                raise ValueError(
                    f"operand array shape {arr.shape} != histogram shape "
                    f"{tuple(ax.nbins for ax in spec.axes)}"
                )
            import pyarrow as pa

            from .operators.localrel import local_relation

            # bin indices and operand values, both in C order
            idx = np.indices(arr.shape).reshape(arr.ndim, -1)
            table = pa.table(dict(zip(bins, idx), __operand=arr.ravel()))
            schema = T.StructType(
                [T.StructField(c, T.LongType()) for c in bins]
                + [T.StructField("__operand", T.DoubleType())]
            )
            lit_df = F.broadcast(
                local_relation(self.df.sparkSession, table, schema))
            joined = self.df.join(lit_df, on=bins, how="left")
            sel = [F.col(c) for c in bins]
            rhs = F.col("__operand")
            for c in vcols:
                lhs = F.col(c)
                # flow bins have no operand entry: leave them unchanged
                # (boost view-arithmetic semantics — ops apply to the
                # in-range view only)
                applied = op(rhs, lhs) if swap else op(lhs, rhs)
                sel.append(
                    F.when(rhs.isNull(), lhs).otherwise(applied).alias(c)
                )
            return AggHistogram(joined.select(*sel), spec, self._categories)
        return NotImplemented  # type: ignore[return-value]

    def __add__(self, other):
        return self._binary(other, operator.add)

    __radd__ = __add__
    __iadd__ = __add__

    def __sub__(self, other):
        return self._binary(other, operator.sub)

    def __rsub__(self, other):
        return self._binary(other, operator.sub, swap=True)

    __isub__ = __sub__

    def __mul__(self, other):
        return self._binary(other, operator.mul)

    __rmul__ = __mul__
    __imul__ = __mul__

    def __truediv__(self, other):
        return self._binary(other, operator.truediv)

    def __rtruediv__(self, other):
        return self._binary(other, operator.truediv, swap=True)

    __itruediv__ = __truediv__

    def __array__(self, dtype=None) -> np.ndarray:
        v = self.values(flow=False)
        return v.astype(dtype) if dtype is not None else v

    def __repr__(self) -> str:
        axes = ", ".join(type(ax).__name__ for ax in self.spec.axes)
        return (
            f"AggHistogram(ndim={self.ndim}, axes=[{axes}], "
            f"storage={self.spec.storage.value}, lazy-spark-plan)"
        )
