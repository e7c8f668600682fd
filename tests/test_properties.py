"""Property-based tests: hypothesis over the pure-Python normalization
layer (fast, many examples) + bulk invariant checks of the binning
Column expressions (one Spark job over many generated cases)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import assume, given, settings, strategies as st

from dask_histogram_spark.bins import normalize_bins_range
from dask_histogram_spark.spec import Regular, Variable


# ---------------------------------------------------------------------------
# hypothesis: bins/range normalization (pure Python)
# ---------------------------------------------------------------------------

@given(
    ndim=st.integers(1, 5),
    nbins=st.integers(1, 100),
    lo=st.floats(-1e6, 1e6, allow_nan=False),
    width=st.floats(1e-3, 1e6, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_scalar_broadcast_property(ndim, nbins, lo, width):
    bins_pd, range_pd = normalize_bins_range(ndim, nbins, (lo, lo + width))
    assert len(bins_pd) == ndim == len(range_pd)
    assert all(b == nbins for b in bins_pd)
    assert all(r == (lo, lo + width) for r in range_pd)


@given(
    edges=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=2, max_size=30, unique=True
    )
)
@settings(max_examples=200, deadline=None)
def test_variable_axis_properties(edges):
    edges = sorted(edges)
    ax = Variable(edges)
    assert ax.nbins == len(edges) - 1
    np.testing.assert_array_equal(ax.edges(), np.asarray(edges))
    assert (ax.widths() > 0).all()


@given(
    n=st.integers(1, 1000),
    lo=st.floats(-1e9, 1e9, allow_nan=False),
    width=st.floats(1e-6, 1e9, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_regular_axis_properties(n, lo, width):
    # bin width must be representable at the axis magnitude (hypothesis
    # found lo=1e9, width=1e-6, n=1000 -> sub-ULP bins = duplicate edges;
    # a physically meaningless axis, excluded rather than "fixed")
    assume(width / n > max(abs(lo), abs(lo + width)) * 1e-12)
    ax = Regular(n, lo, lo + width)
    e = ax.edges()
    assert len(e) == n + 1
    assert e[0] == lo and e[-1] == pytest.approx(lo + width)
    assert (np.diff(e) > 0).all()


# ---------------------------------------------------------------------------
# Spark binning invariants (bulk: one job, many generated cases)
# ---------------------------------------------------------------------------

def test_regular_binning_invariants_bulk(spark):
    rng = np.random.default_rng(99)
    n, lo, hi = 17, -4.0, 9.0
    x = np.concatenate([
        rng.uniform(lo - 5, hi + 5, 3000),          # around + beyond range
        np.linspace(lo, hi, n + 1),                 # exactly on the edges
        [np.nan, np.inf, -np.inf, lo, hi],
    ])
    pdf = pd.DataFrame({"x": x})
    df = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    from dask_histogram_spark.binning import bin_sql

    out = df.select(
        F.col("x"), F.expr(bin_sql(Regular(n, lo, hi), "x")).alias("b")
    ).toPandas()
    xs, bs = out.x.to_numpy(), out.b.to_numpy()
    nan = np.isnan(xs)
    # flow contract
    assert (bs[nan] == n).all()
    assert (bs[(~nan) & (xs < lo)] == -1).all()
    assert (bs[(~nan) & (xs >= hi)] == n).all()
    inr = (~nan) & (xs >= lo) & (xs < hi)
    # in-range bins are in [0, n)
    assert bs[inr].min() >= 0 and bs[inr].max() <= n - 1
    # monotonicity: sort by x -> bins nondecreasing (flow encoded -1/n)
    order = np.argsort(xs[~nan], kind="stable")
    sb = bs[~nan][order]
    assert (np.diff(sb) >= 0).all()
    # each in-range value lies inside its bin's edge interval
    edges = Regular(n, lo, hi).edges()
    assert (xs[inr] >= edges[bs[inr]]).all()
    assert (xs[inr] < edges[bs[inr] + 1] + 1e-9).all()


def test_variable_binning_matches_searchsorted_bulk(spark):
    rng = np.random.default_rng(5)
    edges = np.array([-3.0, -1.5, -0.25, 0.0, 0.5, 2.0, 7.5])
    x = np.concatenate([
        rng.uniform(-5, 9, 3000),
        edges,                                      # exactly on the edges
        [np.nan],
    ])
    pdf = pd.DataFrame({"x": x})
    df = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    from dask_histogram_spark.binning import bin_sql

    out = df.select(
        F.col("x"), F.expr(bin_sql(Variable(edges), "x")).alias("b")
    ).toPandas()
    xs, bs = out.x.to_numpy(), out.b.to_numpy()
    nan = np.isnan(xs)
    n = len(edges) - 1
    assert (bs[nan] == n).all()
    # independent oracle: half-open [e_i, e_{i+1}) via searchsorted
    exp = np.searchsorted(edges, xs[~nan], side="right") - 1
    exp = np.where(xs[~nan] < edges[0], -1, exp)
    exp = np.where(xs[~nan] >= edges[-1], n, exp)
    np.testing.assert_array_equal(bs[~nan], exp)


def test_count_preservation_bulk(spark, gauss1d):
    """Total count with flow always equals the row count — every value
    lands in exactly one bin, for any axis."""
    import dask_histogram_spark as dhs

    df, pdf = gauss1d
    for bins, rng_ in [(7, (-1, 1)), (3, (0, 0.5)), ([-2, 0, 1], None)]:
        h = dhs.histogram(df, "x", bins=bins, range=rng_)
        assert h.counts(flow=True).sum() == len(pdf)


def test_moment_cancellation_large_mean(spark):
    """SURVEY §7.4 risk register: sum(s^2) - sum(s)^2/n cancels
    catastrophically at large mean / small variance (measured 130x
    relative error at mean 1e6, sigma 1e-3).  The escalation is the
    spec's sample_shift: moments accumulate (s - K), variance is
    shift-invariant, mean reconstructs as K + sum/count.  Property:
    shifted Mean/WeightedMean match numpy two-pass to 1e-9 relative."""
    import dask_histogram_spark as dhs

    rng = np.random.default_rng(7)
    n = 4000
    pdf = pd.DataFrame({
        "x": rng.uniform(-3, 3, n),
        "s": 1e6 + rng.normal(0, 1e-3, n),
        "w": rng.uniform(0.5, 2.0, n),
    })
    df = spark.createDataFrame(pdf).repartition(8)
    K = 1e6

    h = dhs.histogramdd(df, ["x"], bins=6, range=((-3, 3),),
                        sample="s", sample_shift=K,
                        storage=dhs.Storage.MEAN)
    vals, var = h.values(), h.variances()
    bins = np.clip(((pdf.x + 3) * 1.0).astype(int), 0, 5)
    for b in range(6):
        grp = pdf.s[bins == b].to_numpy()
        np.testing.assert_allclose(vals[b], grp.mean(), rtol=1e-12)
        np.testing.assert_allclose(var[b], np.var(grp, ddof=1), rtol=1e-9)

    hw = dhs.histogramdd(df, ["x"], bins=6, range=((-3, 3),),
                         sample="s", weights="w", sample_shift=K,
                         storage=dhs.Storage.WEIGHTED_MEAN)
    wvals = hw.values()
    for b in range(6):
        m = bins == b
        grp, gw = pdf.s[m].to_numpy(), pdf.w[m].to_numpy()
        np.testing.assert_allclose(wvals[b], np.average(grp, weights=gw),
                                   rtol=1e-12)

    # and the UNSHIFTED variance is measurably garbage on this data —
    # documents why the shift exists (remove if this ever starts
    # passing: it would mean the naive path got fixed another way)
    h0 = dhs.histogramdd(df, ["x"], bins=6, range=((-3, 3),),
                         sample="s", storage=dhs.Storage.MEAN)
    bad = h0.variances()
    exact = np.array([np.var(pdf.s[bins == b].to_numpy(), ddof=1)
                      for b in range(6)])
    assert np.abs(bad - exact).max() / exact.max() > 1.0


@settings(deadline=None, max_examples=200)
@given(st.lists(
    st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
    min_size=0, max_size=120,
))
def test_min_label_numpy_matches_union_find(edges):
    """The driver-side connected-components kernel behind
    dedup_clusters' small-graph plan == a reference union-find, on
    arbitrary graphs (self-loops, duplicates, negatives, chains)."""
    from dask_histogram_spark.operators.dedup import _min_label_numpy

    edges = [(a, b) for a, b in edges if a != b]
    assume(edges)
    a = np.array([x for x, _ in edges] + [y for _, y in edges],
                 dtype=np.int64)
    b = np.array([y for _, y in edges] + [x for x, _ in edges],
                 dtype=np.int64)
    nodes, lab = _min_label_numpy(a, b)
    got = dict(zip(nodes.tolist(), nodes[lab].tolist()))

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in edges:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    comp: dict = {}
    for n in {n for e in edges for n in e}:
        comp.setdefault(find(n), []).append(n)
    expected = {n: min(ns) for r, ns in comp.items() for n in ns}
    assert got == expected


# ---------------------------------------------------------------------------
# granularity tokenizer parity (bulk fuzz: one Spark job, many cases)
# ---------------------------------------------------------------------------

def test_granularity_tokenizers_python_equals_column_bulk(spark):
    """The round-9 line/paragraph tokenizers exist twice (python twin
    in the arrow kernels, Column twin in span_windows method='column')
    — fuzz whitespace-heavy random texts (tabs, CRs, CRLF blank
    lines, NBSP, runs of separators) and require token-for-token
    equality, then window-set equality for both methods."""
    import random

    from pyspark.sql import functions as F

    from dask_histogram_spark.operators import span_windows
    from dask_histogram_spark.operators.spans import (
        _COL_TOKS,
        _tokenize,
    )

    rng = random.Random(424242)
    alphabet = (list("abcXYZ019.,!?") + ["é", "ß", "\xa0"]
                + list(" \t\r") + ["\n", "\n\n", "\r\n", "\r\n\r\n"])
    texts = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randrange(0, 60)))
             for _ in range(300)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    for gran in ("word", "line", "paragraph"):
        got = {r["doc_id"]: r["tk"] for r in df.select(
            "doc_id", _COL_TOKS[gran]("text").alias("tk")).collect()}
        ref = _tokenize(texts, gran)
        for i, t in enumerate(texts):
            assert got[i] == ref[i], (gran, i, repr(t), got[i], ref[i])
        for n in (1, 3):
            a = {(r["doc_id"], r["pos"]) for r in span_windows(
                df, n=n, method="arrow", granularity=gran).collect()}
            c = {(r["doc_id"], r["pos"]) for r in span_windows(
                df, n=n, method="column", granularity=gran).collect()}
            assert a == c, (gran, n, a ^ c)
