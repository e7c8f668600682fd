"""Differential tests of the core fill pipeline against numpy oracles.

Mirrors the reference's oracle pattern (tests/test_core.py:39-44):
fill eagerly on materialized inputs, compare counts(flow=True).
"""

from __future__ import annotations

import numpy as np
import pytest

import dask_histogram_spark as dhs


def np_flow_counts_1d(x, nbins, lo, hi, weights=None):
    """numpy oracle with explicit under/overflow bins (boost semantics:
    [lo, hi) half-open, x == hi -> overflow, NaN -> overflow)."""
    x = np.asarray(x, dtype=np.float64)
    w = np.ones_like(x) if weights is None else np.asarray(weights, np.float64)
    out = np.zeros(nbins + 2)
    scale = nbins / (hi - lo)
    nan = np.isnan(x)
    under = (~nan) & (x < lo)
    over = (~nan) & (x >= hi)
    inr = ~(nan | under | over)
    idx = np.minimum(np.floor((x[inr] - lo) * scale).astype(np.int64), nbins - 1)
    np.add.at(out, idx + 1, w[inr])
    out[0] = w[under].sum()
    out[-1] = w[over | nan].sum()
    return out


def test_1d_unweighted(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=10, range=(-3, 3))
    got = h.counts(flow=True)
    exp = np_flow_counts_1d(pdf.x, 10, -3, 3)
    np.testing.assert_allclose(got, exp)
    assert got.sum() == pytest.approx(len(pdf))


def test_1d_weighted_with_variance(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=12, range=(-3, 3), weights="w")
    np.testing.assert_allclose(
        h.values(flow=True), np_flow_counts_1d(pdf.x, 12, -3, 3, pdf.w)
    )
    np.testing.assert_allclose(
        h.variances(flow=True), np_flow_counts_1d(pdf.x, 12, -3, 3, pdf.w**2)
    )


def test_1d_scalar_weight_broadcast(spark, gauss1d):
    # reference: tests/test_core.py:350-359
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=10, range=(-3, 3), weights=0.5)
    np.testing.assert_allclose(
        h.values(flow=True),
        np_flow_counts_1d(pdf.x, 10, -3, 3, np.full(len(pdf), 0.5)),
    )


def test_1d_variable_edges(spark, gauss1d):
    df, pdf = gauss1d
    edges = [-3, -2.2, -1, -0.2, 0.2, 1.2, 2.2, 3.2]
    h = dhs.histogram(df, "x", bins=edges, weights="w")
    counts, _ = np.histogram(pdf.x, bins=edges, weights=pdf.w)
    got = h.values(flow=False)
    # numpy's last bin is closed; exclude values exactly == last edge
    # (none in continuous data) — tolerate via allclose.
    np.testing.assert_allclose(got, counts)


def test_2d(spark, gauss_nd):
    df, pdf = gauss_nd
    h = dhs.histogramdd(df, ["c0", "c1"], bins=(8, 7),
                        range=((-3.5, 3.5), (-3.3, 3.3)), weights="w")
    exp, _ = np.histogramdd(
        pdf[["c0", "c1"]].to_numpy(), bins=(8, 7),
        range=((-3.5, 3.5), (-3.3, 3.3)), weights=pdf.w,
    )
    np.testing.assert_allclose(h.values(flow=False), exp)


def test_3d_mixed_bins(spark, gauss_nd):
    df, pdf = gauss_nd
    h = dhs.histogramdd(df, ["c0", "c1", "c2"], bins=(4, 5, 6),
                        range=((-2.5, 2.5), (-3.5, 3.5), (-2, 2)))
    exp, _ = np.histogramdd(
        pdf[["c0", "c1", "c2"]].to_numpy(), bins=(4, 5, 6),
        range=((-2.5, 2.5), (-3.5, 3.5), (-2, 2)),
    )
    np.testing.assert_allclose(h.values(flow=False), exp)


def test_int64_storage_dtype(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=10, range=(-3, 3),
                      storage=dhs.Storage.INT64)
    got = h.counts(flow=True)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, np_flow_counts_1d(pdf.x, 10, -3, 3))


def test_mean_storage(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=6, range=(-3, 3), sample="s")
    assert h.spec.storage is dhs.Storage.MEAN
    vals = h.values(flow=False)
    variances = h.variances(flow=False)
    scale = 6 / 6.0
    idx = np.floor((pdf.x + 3) * scale).astype(int)
    for b in range(6):
        sel = pdf.s[(idx == b) & (pdf.x >= -3) & (pdf.x < 3)]
        if len(sel):
            assert vals[b] == pytest.approx(sel.mean())
            if len(sel) > 1:
                assert variances[b] == pytest.approx(sel.var(ddof=1))


def test_weighted_mean_storage(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=5, range=(-3, 3), weights="w", sample="s")
    assert h.spec.storage is dhs.Storage.WEIGHTED_MEAN
    vals = h.values(flow=False)
    idx = np.floor((pdf.x + 3) * (5 / 6.0)).astype(int)
    for b in range(5):
        m = (idx == b) & (pdf.x >= -3) & (pdf.x < 3)
        if m.sum():
            exp = np.average(pdf.s[m], weights=pdf.w[m])
            assert vals[b] == pytest.approx(exp)


def test_flow_nan_and_out_of_range(spark):
    import pandas as pd

    pdf = pd.DataFrame({"x": [-10.0, -0.5, 0.5, 10.0, np.nan, 3.0]})
    df = pdf.pipe(lambda p: spark_df(p))
    # NaN and x==hi land in overflow; -10 in underflow (boost semantics)
    h = dhs.histogram(df, "x", bins=3, range=(-3, 3))
    got = h.counts(flow=True)
    np.testing.assert_array_equal(got, [1, 0, 2, 0, 3])


def spark_df(pdf):
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession().createDataFrame(pdf)


def test_density(spark, gauss1d):
    df, pdf = gauss1d
    h = dhs.histogram(df, "x", bins=10, range=(-3, 3))
    exp, _ = np.histogram(pdf.x[(pdf.x >= -3) & (pdf.x < 3)],
                          bins=10, range=(-3, 3), density=True)
    np.testing.assert_allclose(h.density(), exp)


def test_density_wired_through_to_numpy(spark, gauss1d):
    """density=True at the routines entry point must change the array
    to_numpy returns (the reference silently ignores it —
    routines.py:417-421; we wire it, SURVEY §2.5)."""
    df, pdf = gauss1d
    exp, _ = np.histogram(pdf.x[(pdf.x >= -3) & (pdf.x < 3)],
                          bins=10, range=(-3, 3), density=True)
    # flag at construction time
    h = dhs.histogram(df, "x", bins=10, range=(-3, 3), density=True)
    got, edges = h.to_numpy(dd=False)
    np.testing.assert_allclose(got, exp)
    # explicit override at materialization time
    h2 = dhs.histogram(df, "x", bins=10, range=(-3, 3))
    got2, _ = h2.to_numpy(dd=False, density=True)
    np.testing.assert_allclose(got2, exp)
    # density=False override wins over the constructor flag
    raw, _ = h.to_numpy(dd=False, density=False)
    assert raw.sum() == pytest.approx(((pdf.x >= -3) & (pdf.x < 3)).sum())
    with pytest.raises(ValueError, match="flow"):
        h.to_numpy(flow=True, density=True)


def test_partitioned_collapse(spark, gauss1d):
    df, pdf = gauss1d
    spec = dhs.HistogramSpec(axes=(dhs.Regular(10, -3, 3),),
                             storage=dhs.Storage.WEIGHT)
    partials = dhs.fill_partitioned(df, ["x"], spec, weight="w")
    assert "part_id" in partials.columns
    final = dhs.collapse(partials, spec)
    h = dhs.AggHistogram(final, spec)
    np.testing.assert_allclose(
        h.values(flow=True), np_flow_counts_1d(pdf.x, 10, -3, 3, pdf.w)
    )


def test_normed_raises(spark, gauss1d):
    df, _ = gauss1d
    with pytest.raises(KeyError):
        dhs.histogram(df, "x", bins=10, range=(-3, 3), normed=True)


def test_int_bins_without_range_raises(spark, gauss1d):
    df, _ = gauss1d
    with pytest.raises(ValueError, match="range"):
        dhs.histogram(df, "x", bins=10)


def test_multifill_single_scan(spark, gauss1d):
    """Fills sharing a source fuse into ONE scan (25 fills != 25 scans)."""
    df, pdf = gauss1d
    import dask_histogram_spark as dhs

    spec = dhs.HistogramSpec(axes=(dhs.Regular(10, -3, 3),))
    fills = [dhs.FillSpec(df, ("x",), float(i)) for i in range(1, 26)]
    out = dhs.fill_multi(fills, spec)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") <= 1 or plan.count("LogicalRDD") <= 1
    # value = sum over fills of w_i * count = (1+..+25) * per-bin count
    h = dhs.AggHistogram(out, spec)
    base = dhs.histogram(df, "x", bins=10, range=(-3, 3))
    np.testing.assert_allclose(
        h.values(flow=True), sum(range(1, 26)) * base.counts(flow=True)
    )


def test_variable_axis_searchsorted_fallback(spark, gauss1d):
    """>512 edges routes through the Arrow searchsorted path with
    identical semantics."""
    df, pdf = gauss1d
    import dask_histogram_spark as dhs

    edges = np.linspace(-3, 3, 1001)  # 1000 bins > threshold
    h = dhs.histogram(df, "x", bins=edges)
    got = h.counts(flow=True)
    exp = np.zeros(1002)
    idx = np.searchsorted(edges, pdf.x.to_numpy(), side="right") - 1
    idx[pdf.x.to_numpy() < edges[0]] = -1
    idx[pdf.x.to_numpy() >= edges[-1]] = 1000
    np.add.at(exp, idx + 1, 1.0)
    np.testing.assert_allclose(got, exp)
    assert got.sum() == len(pdf)


def test_project_preserves_sample_shift(spark, gauss1d):
    """project() must carry K — dropping it silently unshifts means."""
    df, pdf = gauss1d
    h = dhs.histogramdd(df, ["x", "w"], bins=(4, 3),
                        range=((-3, 3), (0.4, 0.8)), sample="s",
                        sample_shift=5.0, storage=dhs.Storage.MEAN)
    p = h.project(0)
    assert p.spec.sample_shift == 5.0
    full = h.values(flow=True)          # means per 2D bin
    # compare against a direct 1D shifted fill
    h1 = dhs.histogramdd(df, ["x"], bins=4, range=((-3, 3),), sample="s",
                         sample_shift=5.0, storage=dhs.Storage.MEAN)
    np.testing.assert_allclose(p.values(flow=True), h1.values(flow=True))
    # axes/sum parity accessors
    assert p.axes == h1.spec.axes
    assert h1.sum() == pytest.approx(h1.values().sum())


def test_mismatched_sample_shift_arithmetic_raises(spark, gauss1d):
    df, _ = gauss1d
    a = dhs.histogramdd(df, ["x"], bins=4, range=((-3, 3),), sample="s",
                        sample_shift=5.0, storage=dhs.Storage.MEAN)
    b = dhs.histogramdd(df, ["x"], bins=4, range=((-3, 3),), sample="s",
                        storage=dhs.Storage.MEAN)
    with pytest.raises(ValueError, match="sample_shift"):
        a + b


# ---------------------------------------------------------------------------
# bin_sql is parsed the same way by Spark and DuckDB
# ---------------------------------------------------------------------------

def _fill_vs_duckdb(spark, pdf, spec, col):
    """Sorted sparse rows of ``fill`` (Spark) and ``fill_sql`` (DuckDB)."""
    import duckdb

    got = dhs.fill(spark.createDataFrame(pdf), [col], spec).collect()
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.sql(dhs.fill_sql("t", [col], spec, round_digits=None)).fetchall()
    return sorted(map(tuple, got), key=repr), sorted(exp, key=repr)


def test_variable_infinite_edges_match_duckdb(spark):
    import pandas as pd

    x = [-np.inf, -5.0, -1.0, -0.5, 0.0, 0.5, 1.0, 5.0, np.inf, np.nan]
    spec = dhs.HistogramSpec(axes=(dhs.Variable([-np.inf, -1, 0, 1, np.inf]),))
    got, exp = _fill_vs_duckdb(spark, pd.DataFrame({"x": x}), spec, "x")
    assert got == exp
    # -inf is in bin 0 ([-inf, -1)); +inf and NaN overflow
    assert got == [(0, 2.0), (1, 2.0), (2, 2.0), (3, 2.0), (4, 2.0)]


def test_string_categories_with_escapes_match_duckdb(spark):
    import pandas as pd

    cats = ["a\\b", "o'k"]
    values = ["a\\b", "a\\b", "o'k", "ok", "ab", "a\\\\b"]
    spec = dhs.HistogramSpec(axes=(dhs.StrCategory(cats, growth=False),))
    got, exp = _fill_vs_duckdb(spark, pd.DataFrame({"c": values}), spec, "c")
    assert got == exp
    assert dict(got) == {"a\\b": 2.0, "o'k": 1.0, None: 3.0}


# ---------------------------------------------------------------------------
# fill_multi folds df.where views of one relation into one scan
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def fold_path(spark, tmp_path_factory):
    """A parquet table with a nullable predicate column ``k``."""
    path = str(tmp_path_factory.mktemp("fold") / "t.parquet")
    spark.range(4000).selectExpr(
        "CAST(id % 97 AS DOUBLE) / 10.0 - 4.0 AS x",
        "IF(id % 7 = 0, NULL, CAST(id % 10 AS INT)) AS k",
    ).repartition(3).write.parquet(path)
    return path


def _fold_cases(spark, path):
    """Staged fills, with the FileScans the fused plan must have."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    pos, neg = df.where(F.col("k") > 4), df.where(F.col("k") <= 4)
    keys = spark.createDataFrame([(1,), (2,)], "k int")
    return {
        # IF(NULL, ...) is NULL and dropped, as WHERE drops the row
        "null_predicate": ([df, pos], 1),
        "every_fill_filtered": ([pos, neg], 1),
        "nondeterministic_filter": ([df, df.where(F.rand(1) < 0.5)], 2),
        "subquery_filter": ([df, df.where(F.col("k").isin(keys.select("k")))], 2),
        "separate_reads": ([df, spark.read.parquet(path).where(F.col("k") > 4)], 2),
        "filtered_projection": ([df, df.select("x", "k").where(F.col("k") > 4)], 2),
        "chained_wheres": ([df, df.where(F.col("k") > 2).where(F.col("x") < 1.0)], 1),
    }


@pytest.mark.parametrize("case", [
    "null_predicate", "every_fill_filtered", "nondeterministic_filter",
    "subquery_filter", "separate_reads", "filtered_projection",
    "chained_wheres",
])
def test_fold_matches_separate_fills(spark, fold_path, case):
    """The fused fill equals the sum of the fills computed one by one,
    and df.where views of one relation share its scan; a filter that is
    non-deterministic or has a subquery, a second read of the path and
    a filtered projection each keep their own scan."""
    frames, scans = _fold_cases(spark, fold_path)[case]
    assert spark.read.parquet(fold_path).where("k IS NULL").count() > 0
    fills = [dhs.FillSpec(d, ("x",), w) for d, w in zip(frames, (None, "k"))]
    spec = dhs.HistogramSpec(axes=(dhs.Regular(12, -3.0, 3.0),))
    fused = dhs.fill_multi(fills, spec)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    got = dhs.AggHistogram(fused, spec).values(flow=True)
    exp = sum(dhs.AggHistogram(dhs.fill_multi([f], spec), spec).values(flow=True)
              for f in fills)
    np.testing.assert_allclose(got, exp)
    assert plan.count("FileScan") == scans, plan
