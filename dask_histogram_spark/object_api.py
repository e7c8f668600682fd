"""Lazy object API: the boost-style ``Histogram`` façade.

Reference parity: ``boost.Histogram`` (boost.py:43-443) — a mutable
object that *stages* fills without computing (boost.py:234-312,
staged list at boost.py:304-311), builds the plan lazily on demand
(boost.py:203-232), and computes to a concrete result.

Spark mapping (SURVEY.md §3, lifecycle B): staged fills are
:class:`FillSpec` descriptors; the "graph build" is ``fill_multi``:
one scan per source relation (``df.where`` views included), each row
exploded into one bin-index struct per fill, then ONE
``groupBy(bins).agg(...)`` — the same single-pass-per-partition
property the reference gets from its blockwise multifill layer
(core.py:978-1005).

Divergence (documented, SURVEY.md §2.5): the reference *drops* samples
in the staged-multifill build when any fill carries one (boost.py:
216-217, inverted logic vs weights at :213-214) — a reference bug.
This engine threads samples through correctly.

Parity quirk kept: ``+`` on a lazy Histogram raises before compute
(boost.py:112-121, tested at tests/test_boost.py:504-513); use
``.to_agg()`` for lazy arithmetic (the AggHistogram contract,
core.py:707-741).
"""

from __future__ import annotations

import warnings
from typing import Any, Sequence

import numpy as np
from pyspark.sql import DataFrame

from .fill import ColumnLike, FillSpec, WeightLike, fill_multi
from .result import AggHistogram
from .spec import AxisLike, HistogramSpec, Storage

__all__ = ["Histogram"]


class Histogram:
    """Lazily-filled histogram over Spark DataFrames.

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> import dask_histogram_spark as dhs
    >>> spark = get_spark("doctest", cpus=2)
    >>> df = spark.createDataFrame([(0.5, 2.0), (1.5, 3.0), (1.7, 1.0)],
    ...                            "x double, w double")
    >>> h = dhs.Histogram(dhs.Regular(2, 0.0, 2.0))
    >>> _ = h.fill(df, "x").fill(df, "x", weight="w")  # staged, no jobs yet
    >>> len(h.staged_fills())
    2
    >>> h.compute().values().tolist()  # ONE scan computes both fills
    [3.0, 6.0]
    """

    def __init__(self, *axes: AxisLike, storage: Storage = Storage.DOUBLE,
                 metadata: Any = None, sample_shift: float = 0.0) -> None:
        self.spec = HistogramSpec(axes=tuple(axes), storage=storage,
                                  metadata=metadata,
                                  sample_shift=sample_shift)
        self._staged: list[FillSpec] = []
        self._agg: AggHistogram | None = None

    # -- staging ------------------------------------------------------
    def fill(self, df: DataFrame, *cols: ColumnLike,
             weight: WeightLike = None, sample: ColumnLike | None = None,
             threads: Any = None) -> "Histogram":
        """Stage a fill — no computation happens (reference boost.py:
        234-312); the cached plan is invalidated."""
        if threads is not None:
            warnings.warn("threads is ignored under Spark", stacklevel=2)
        if len(cols) != self.spec.ndim:
            raise ValueError(
                f"fill needs one column per axis ({self.spec.ndim}); "
                f"got {len(cols)}"
            )
        self._staged.append(FillSpec(df, tuple(cols), weight, sample))
        self._agg = None  # invalidate (reference sentinel boost.py:309-310)
        return self

    def staged_fills(self) -> list[FillSpec]:
        """Reference boost.py:314-323."""
        return list(self._staged)

    # -- plan build ----------------------------------------------------
    def to_agg(self) -> AggHistogram:
        """Build (once) the union-of-fills aggregation plan.

        Zero staged fills is valid (reference parity: an unfilled
        histogram computes to the all-zero result — boost.py:85-102,
        tested tests/test_boost.py:13-26): the plan is a zero-row
        DataFrame with the spec's sparse schema, which densifies to
        zeros of the right shape."""
        if self._agg is None:
            if not self._staged:
                from pyspark.sql import SparkSession

                from .fill import sparse_schema
                from .operators.localrel import local_relation

                spark = SparkSession.getActiveSession()
                if spark is None:
                    raise RuntimeError(
                        "computing an empty Histogram needs an active "
                        "SparkSession (none found)"
                    )
                empty = local_relation(spark, [], sparse_schema(self.spec))
                self._agg = AggHistogram(empty, self.spec)
            else:
                self._agg = AggHistogram(
                    fill_multi(self._staged, self.spec), self.spec
                )
        return self._agg

    def compute(self) -> AggHistogram:
        """Execute the staged fills (one Spark job) and return the
        computed result object."""
        return self.to_agg().compute()

    def to_boost(self):
        """Compute into a concrete ``boost_histogram.Histogram`` (the
        reference's postcompute target ``_in_memory_type``,
        boost.py:139-146) — requires the optional boost_histogram
        package; see :meth:`AggHistogram.to_boost`."""
        return self.to_agg().to_boost()

    # -- result passthroughs -------------------------------------------
    def to_numpy(self, flow: bool = False, dd: bool = True,
                 density: bool | None = None):
        return self.to_agg().to_numpy(flow=flow, dd=dd, density=density)

    def project(self, *axes: int):
        """Marginalize onto the given axes (boost ``h.project``) — built
        on the lazy AggHistogram re-group (result.py)."""
        return self.to_agg().project(*axes)

    def values(self, flow: bool = False) -> np.ndarray:
        return self.to_agg().values(flow=flow)

    def variances(self, flow: bool = False):
        return self.to_agg().variances(flow=flow)

    def counts(self, flow: bool = False) -> np.ndarray:
        return self.to_agg().counts(flow=flow)

    def density(self) -> np.ndarray:
        return self.to_agg().density()

    # -- parity: lazy add refuses --------------------------------------
    def __add__(self, other: Any):
        raise TypeError(
            "cannot add lazy Histogram objects before compute "
            "(reference parity: boost.py:112-121); use "
            "h1.to_agg() + h2.to_agg() for lazy arithmetic"
        )

    __radd__ = __add__
    __iadd__ = __add__

    @property
    def ndim(self) -> int:
        return self.spec.ndim

    @property
    def axes(self) -> tuple:
        return self.spec.axes

    def sum(self, flow: bool = False) -> float:
        return self.to_agg().sum(flow=flow)

    def __repr__(self) -> str:
        marker = " (has staged fills)" if self._staged else ""
        axes = ", ".join(type(ax).__name__ for ax in self.spec.axes)
        return (
            f"Histogram({axes}, storage={self.spec.storage.value})"
            f"{marker}"
        )
