"""The driver-contract query registry: every implemented operator from
SURVEY.md §2 (plus the LLM-data extensions) as a (Spark callable,
DuckDB oracle SQL) pair.

Design rule: wherever the operator is SQL-expressible, BOTH sides are
generated from the same spec (``fill_sql`` / ``bin_sql`` twins and the
``sig_round`` pair) so the binning and rounding arithmetic is textually
identical — the differential gate then checks the *engine*, not the
query author's transcription.

Non-SQL-expressible ops (xxhash64-based signatures, pandas_udf folds,
event-time windows with streaming semantics) have no oracle entry and
get the driver's rows-only check, as allowed by the contract.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fill import FillSpec, collapse, fill, fill_multi, fill_partitioned, fill_sql
from .oracle import sig_round_col, sig_round_sql, sig_rounded
from .result import AggHistogram
from .spec import (
    Boolean,
    HistogramSpec,
    IntCategory,
    Integer,
    Regular,
    Storage,
    StrCategory,
    Variable,
)

__all__ = ["QUERIES", "ORACLES", "get_tables", "flagship"]

_TABLE_CACHE: dict = {}


def get_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load + cache the driver tables for a (session, sf_dir) pair.

    Handles the testdata's TIMESTAMP(NANOS) parquet under sessions we
    did not configure: try the runtime conf, fall back to a
    pyarrow -> pandas read for the affected tables.
    """
    key = (id(spark), sf_dir)
    if key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    from .session import load_tables

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    try:
        tables = load_tables(spark, sf_dir)
        # force schema resolution now so a nanos failure surfaces here
        for df in tables.values():
            df.schema
    except Exception:
        import os

        import pyarrow.parquet as pq

        from .session import TABLES

        tables = {}
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                pdf = pq.read_table(path).to_pandas()
                df = spark.createDataFrame(pdf)
                df.createOrReplaceTempView(name)
                tables[name] = df
    _TABLE_CACHE[key] = tables
    return tables


# ---------------------------------------------------------------------------
# registry plumbing
# ---------------------------------------------------------------------------

def _land_local(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Land a batch-bounded DataFrame on the driver with one Arrow
    collect and re-enter it as a LocalTableScan (operators/localrel.py):
    every later materialization — the bench collect, a broadcast build
    — then runs driver-side with zero jobs, at any row count."""
    from .operators.localrel import local_relation

    return local_relation(spark, df.toArrow(), df.schema)


def clear_bench_memos() -> None:
    """Cold-invocation support for the bench/minibench
    ``SPARK_GRAFT_BENCH_COLD=1`` mode (round-16 memo fence): drop every
    memoized probe STATISTIC and derived-artifact ROW — the sizing
    probe memo holds them all (text/embedding probes, ``__params``
    sidecar rows, the IVF probe assignment, the contamination
    benchmark band rows) — plus the IVF index read-plan cache, so a
    timed rep pays every probe/collect an actual cold invocation
    would.  Session-scoped built ARTIFACTS stay: the persisted
    signature/gram tables and the on-disk IVF index are
    explicitly-static reference-side artifacts a production deployment
    amortizes across runs (and the driver's cold-JVM bench pays their
    builds in the untimed warmup rep either way).

    The memo-surface rule this fences (round-15 verdict item #1):
    session-level memoization is allowed for (a) sizing/guard
    statistics and (b) artifacts derived from an explicitly-static
    REFERENCE side (a built index's read plan/probe assignment, a
    static benchmark suite's gram set) — never for anything derived
    from the corpus side of a query."""
    from .operators.similarity import _INDEX_READ_CACHE
    from .operators.sizing import clear_probe_memo

    clear_probe_memo()
    _INDEX_READ_CACHE.clear()


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame],
              sql: Optional[str] = None) -> None:
    QUERIES[name] = fn
    if sql is not None:
        ORACLES[name] = sql


def _hist_query(name: str, table: str, cols: list[str],
                spec: HistogramSpec, weight_sql: str | None = None,
                sample_sql: str | None = None,
                where_sql: str | None = None) -> None:
    """Histogram query pair generated from one spec.

    ``weight_sql``/``sample_sql``/``where_sql`` are simple SQL
    expressions valid in BOTH Spark SQL and DuckDB — the single source
    for both sides (Spark side via ``F.expr``, built lazily because
    Columns need an active SparkContext).
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = get_tables(spark, sf_dir)[table]
        if where_sql is not None:
            df = df.where(F.expr(where_sql))
        w = F.expr(weight_sql) if weight_sql is not None else None
        s = F.expr(sample_sql) if sample_sql is not None else None
        # F.expr, not F.col: cols may be SQL expressions (e.g. a boolean
        # predicate feeding a Boolean axis), valid on both sides
        return sig_rounded(fill(df, [F.expr(c) for c in cols], spec,
                                weight=w, sample=s))

    _register(
        name,
        run,
        fill_sql(table, cols, spec, weight_sql=weight_sql,
                 sample_sql=sample_sql, where=where_sql),
    )


# ---------------------------------------------------------------------------
# 1. histogram operator family (reference parity, SURVEY.md §2.1-2.4)
# ---------------------------------------------------------------------------

_hist_query(
    "hist1d_double", "lineitem", ["l_extendedprice"],
    HistogramSpec(axes=(Regular(50, 0.0, 100000.0),), storage=Storage.DOUBLE),
)

_hist_query(
    "hist1d_weight", "lineitem", ["l_extendedprice"],
    HistogramSpec(axes=(Regular(50, 0.0, 100000.0),), storage=Storage.WEIGHT),
    weight_sql="1.0 - l_discount",
)

_hist_query(
    "hist1d_variable", "lineitem", ["l_quantity"],
    HistogramSpec(axes=(Variable([0, 1, 5, 10, 20, 30, 40, 50]),),
                  storage=Storage.WEIGHT),
    weight_sql="l_extendedprice",
)

_hist_query(
    "hist2d", "lineitem", ["l_quantity", "l_discount"],
    HistogramSpec(axes=(Regular(10, 0.0, 50.0), Regular(11, 0.0, 0.11)),
                  storage=Storage.WEIGHT),
    weight_sql="1.0 - l_discount",
)

_hist_query(
    "hist3d", "lineitem",
    ["l_quantity", "l_extendedprice", "l_tax"],
    HistogramSpec(
        axes=(Regular(5, 0.0, 50.0), Regular(8, 0.0, 80000.0),
              Regular(4, 0.0, 0.08)),
        storage=Storage.DOUBLE,
    ),
)

_hist_query(
    "hist_strcat", "lineitem", ["l_returnflag", "l_quantity"],
    HistogramSpec(axes=(StrCategory(growth=True), Regular(10, 0.0, 50.0)),
                  storage=Storage.WEIGHT),
    weight_sql="l_extendedprice",
)

_hist_query(
    "hist_intcat", "lineitem", ["l_linenumber", "l_extendedprice"],
    HistogramSpec(axes=(IntCategory(growth=True), Regular(20, 0.0, 100000.0)),
                  storage=Storage.DOUBLE),
)

# pinned (growth=False) category axes: out-of-set values fold into the
# NULL-sentinel overflow slot in BOTH engines (binning._column_bin /
# bin_sql bin them the same way) — orders has status P outside the pinned
# {O, F} set, l_linenumber has 4..7 outside the pinned {1,2,3} set.
# Both pinned variants gate in ONE driver row (registry consolidated to
# the driver's 50-row budget, COVERAGE.md round-5 table): union under a
# `kind` tag with the category cast to string so str- and int-category
# share a schema; the DOUBLE-storage side carries a NULL sumw2.

_PINNED_STR_SPEC = HistogramSpec(
    axes=(StrCategory(("O", "F"), growth=False), Regular(10, 0.0, 500000.0)),
    storage=Storage.DOUBLE,
)
_PINNED_INT_SPEC = HistogramSpec(
    axes=(IntCategory((1, 2, 3), growth=False), Regular(10, 0.0, 100000.0)),
    storage=Storage.WEIGHT,
)


def _q_pinned_cats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = get_tables(spark, sf_dir)
    s = sig_rounded(fill(t["orders"],
                         [F.expr("o_orderstatus"), F.expr("o_totalprice")],
                         _PINNED_STR_SPEC))
    i = sig_rounded(fill(t["lineitem"],
                         [F.expr("l_linenumber"), F.expr("l_extendedprice")],
                         _PINNED_INT_SPEC, weight=F.expr("l_quantity")))
    return s.select(
        F.lit("str").alias("kind"),
        F.col("bin_0").cast("string").alias("cat"),
        "bin_1", "value",
        F.lit(None).cast("double").alias("sumw2"),
    ).unionByName(i.select(
        F.lit("int").alias("kind"),
        F.col("bin_0").cast("string").alias("cat"),
        "bin_1", "value", "sumw2",
    ))


_PINNED_STR_SQL = fill_sql("orders", ["o_orderstatus", "o_totalprice"],
                           _PINNED_STR_SPEC)
_PINNED_INT_SQL = fill_sql("lineitem", ["l_linenumber", "l_extendedprice"],
                           _PINNED_INT_SPEC, weight_sql="l_quantity")

_register(
    "hist_pinned_cats",
    _q_pinned_cats,
    f"SELECT 'str' AS kind, CAST(bin_0 AS VARCHAR) AS cat, bin_1, value, "
    f"CAST(NULL AS DOUBLE) AS sumw2 FROM ({_PINNED_STR_SQL}) "
    f"UNION ALL SELECT 'int' AS kind, CAST(bin_0 AS VARCHAR) AS cat, bin_1, "
    f"value, sumw2 FROM ({_PINNED_INT_SQL})",
)

# -- merged small-axis row (same consolidation): the INT64-storage 1D
# fill, the Integer axis, and the Boolean-predicate axis are three
# fills over the same lineitem scan; union under a `kind` tag, counts
# cast to double so INT64 and DOUBLE storages share one schema.

_INT64_SPEC = HistogramSpec(axes=(Regular(25, 0.0, 50.0),),
                            storage=Storage.INT64)
_INTEGER_SPEC = HistogramSpec(axes=(Integer(1, 8),), storage=Storage.INT64)
_BOOL_SPEC = HistogramSpec(axes=(Boolean(),), storage=Storage.DOUBLE)


def _q_int_bool_axes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = get_tables(spark, sf_dir)["lineitem"]

    def one(kind: str, col: str, spec: HistogramSpec) -> DataFrame:
        h = sig_rounded(fill(li, [F.expr(col)], spec))
        return h.select(
            F.lit(kind).alias("kind"),
            F.col("bin_0").cast("long").alias("bin_0"),
            F.col("value").cast("double").alias("value"),
        )

    return (
        one("int64", "l_quantity", _INT64_SPEC)
        .unionByName(one("integer", "l_linenumber", _INTEGER_SPEC))
        .unionByName(one("boolean", "(l_quantity > 25)", _BOOL_SPEC))
    )


def _int_bool_axes_sql() -> str:
    parts = [
        ("int64", fill_sql("lineitem", ["l_quantity"], _INT64_SPEC)),
        ("integer", fill_sql("lineitem", ["l_linenumber"], _INTEGER_SPEC)),
        ("boolean", fill_sql("lineitem", ["(l_quantity > 25)"], _BOOL_SPEC)),
    ]
    return " UNION ALL ".join(
        f"SELECT '{k}' AS kind, CAST(bin_0 AS BIGINT) AS bin_0, "
        f"CAST(value AS DOUBLE) AS value FROM ({q})"
        for k, q in parts
    )


_register("hist_int_bool_axes", _q_int_bool_axes, _int_bool_axes_sql())


_PROJECT_2D = HistogramSpec(
    axes=(Regular(10, 0.0, 50.0), Regular(11, 0.0, 0.11)),
    storage=Storage.WEIGHT,
)
_PROJECT_1D = HistogramSpec(axes=(_PROJECT_2D.axes[0],),
                            storage=Storage.WEIGHT)


def _q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """project(0) of a 2D weighted fill == the 1D fill on axis 0 (the
    marginalization monoid merge, result.py project): the oracle is the
    1D fill_sql; sig-rounding absorbs the summation-order difference."""
    df = get_tables(spark, sf_dir)["lineitem"]
    h = AggHistogram(
        fill(df, [F.expr("l_quantity"), F.expr("l_discount")], _PROJECT_2D,
             weight=F.expr("1.0 - l_discount")),
        _PROJECT_2D,
    )
    return sig_rounded(h.project(0).to_sparse())


_register(
    "hist_project",
    _q_project,
    fill_sql("lineitem", ["l_quantity"], _PROJECT_1D,
             weight_sql="1.0 - l_discount"),
)

_hist_query(
    "hist_mean", "lineitem", ["l_quantity"],
    HistogramSpec(axes=(Regular(10, 0.0, 50.0),), storage=Storage.MEAN),
    sample_sql="l_extendedprice",
)

_hist_query(
    "hist_weighted_mean", "lineitem", ["l_quantity"],
    HistogramSpec(axes=(Regular(10, 0.0, 50.0),), storage=Storage.WEIGHTED_MEAN),
    weight_sql="1.0 - l_discount",
    sample_sql="l_extendedprice",
)

# sample_shift stability path (spec.py): moments accumulate (s - K) on
# BOTH sides (fill and fill_sql derive the shift from the same spec)
_hist_query(
    "hist_mean_shifted", "lineitem", ["l_quantity"],
    HistogramSpec(axes=(Regular(10, 0.0, 50.0),), storage=Storage.MEAN,
                  sample_shift=38000.0),
    sample_sql="l_extendedprice",
)

_hist_query(
    "hist_customer2d", "customer", ["c_acctbal", "c_nationkey"],
    HistogramSpec(axes=(Regular(12, -1000.0, 10000.0), IntCategory(growth=True)),
                  storage=Storage.DOUBLE),
)

_hist_query(
    "hist_orders_status", "orders", ["o_orderstatus", "o_totalprice"],
    HistogramSpec(axes=(StrCategory(growth=True), Regular(20, 0.0, 500000.0)),
                  storage=Storage.DOUBLE),
)

_hist_query(
    "hist_filtered", "lineitem", ["l_extendedprice"],
    HistogramSpec(axes=(Regular(40, 0.0, 100000.0),), storage=Storage.WEIGHT),
    weight_sql="1.0 - l_discount",
    where_sql="l_returnflag = 'R'",
)

# -- join + histogram: broadcast-join a derived dimension, then fill
# (exercises join planning inside the engine; the per-custkey counts
# are broadcast-size at any SF where customers fit the dim pattern)

_JOIN_SPEC = HistogramSpec(axes=(Regular(12, -1000.0, 10000.0),),
                           storage=Storage.WEIGHT)
_JOIN_SQL_TABLE = (
    "(SELECT c.c_acctbal AS acctbal, CAST(o.n AS DOUBLE) AS n_orders "
    "FROM customer c JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders "
    "GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey)"
)


def _q_hist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = get_tables(spark, sf_dir)
    per_cust = (
        t["orders"].groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    )
    joined = t["customer"].join(
        per_cust, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_acctbal").alias("acctbal"),
        F.col("n").cast("double").alias("n_orders"),
    )
    return sig_rounded(fill(joined, ["acctbal"], _JOIN_SPEC, weight="n_orders"))


_register(
    "hist_join_weighted",
    _q_hist_join,
    fill_sql(_JOIN_SQL_TABLE, ["acctbal"], _JOIN_SPEC, weight_sql="n_orders"),
)

# -- multifill: two staged fills -> one aggregation (SURVEY §2.1 #9-10)

_MULTIFILL_SPEC = HistogramSpec(axes=(Regular(25, 0.0, 50.0),),
                                storage=Storage.DOUBLE)


def _q_multifill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = get_tables(spark, sf_dir)["lineitem"]
    fills = [
        FillSpec(li, ("l_quantity",)),
        FillSpec(li, (F.col("l_tax") * 500,)),
    ]
    return sig_rounded(fill_multi(fills, _MULTIFILL_SPEC))


_register(
    "hist_multifill",
    _q_multifill,
    fill_sql(
        "(SELECT l_quantity AS x FROM lineitem "
        "UNION ALL SELECT l_tax * 500 AS x FROM lineitem)",
        ["x"], _MULTIFILL_SPEC,
    ),
)

# -- partitioned fill + collapse (SURVEY §2.1 #2, #13)

_PART_SPEC = HistogramSpec(axes=(Regular(30, 0.0, 100000.0),),
                           storage=Storage.WEIGHT)


def _q_partitioned_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = get_tables(spark, sf_dir)["lineitem"]
    partials = fill_partitioned(li, ["l_extendedprice"], _PART_SPEC,
                                weight=F.expr("1.0 - l_discount"))
    return sig_rounded(collapse(partials, _PART_SPEC))


_register(
    "hist_partitioned_collapse",
    _q_partitioned_collapse,
    fill_sql("lineitem", ["l_extendedprice"], _PART_SPEC,
             weight_sql="1.0 - l_discount"),
)

# -- lazy histogram arithmetic (SURVEY §2.1 #17-18): ONE compound
# expression (h_A + h_R) * 2.5 gates BOTH BinaryOpAgg shapes — the
# full-outer bin join of `+` and the scalar broadcast of `*` — in a
# single driver row.

_ARITH_SPEC = HistogramSpec(axes=(Regular(25, 0.0, 50.0),),
                            storage=Storage.WEIGHT)


def _q_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = get_tables(spark, sf_dir)["lineitem"]
    w = F.expr("1.0 - l_discount")
    ha = AggHistogram(
        fill(li.where(F.col("l_returnflag") == "A"), ["l_quantity"],
             _ARITH_SPEC, weight=w),
        _ARITH_SPEC,
    )
    hr = AggHistogram(
        fill(li.where(F.col("l_returnflag") == "R"), ["l_quantity"],
             _ARITH_SPEC, weight=w),
        _ARITH_SPEC,
    )
    return sig_rounded(((ha + hr) * 2.5).to_sparse())


_inner_arith = fill_sql("lineitem", ["l_quantity"], _ARITH_SPEC,
                        weight_sql="1.0 - l_discount",
                        where="l_returnflag IN ('A', 'R')",
                        round_digits=None)
_register(
    "hist_arith",
    _q_arith,
    f"SELECT bin_0, {sig_round_sql('value * 2.5')} AS value, "
    f"{sig_round_sql('sumw2 * 2.5')} AS sumw2 FROM ({_inner_arith})",
)

# -- density (implemented for real; reference quirk documented §2.5)

_DENSITY_SPEC = HistogramSpec(axes=(Regular(50, 0.0, 100000.0),),
                              storage=Storage.DOUBLE)


def _q_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = get_tables(spark, sf_dir)["lineitem"]
    sparse = fill(li, ["l_extendedprice"], _DENSITY_SPEC)
    inrange = sparse.where((F.col("bin_0") >= 0) & (F.col("bin_0") < 50))
    width = 100000.0 / 50
    total = F.sum("value").over(Window.partitionBy())
    return inrange.select(
        "bin_0",
        sig_round_col(F.col("value") / (total * F.lit(width))).alias("density"),
    )


_inner_density = fill_sql("lineitem", ["l_extendedprice"], _DENSITY_SPEC,
                          round_digits=None)
_register(
    "hist_density",
    _q_density,
    f"SELECT bin_0, {sig_round_sql('value / (SUM(value) OVER () * 2000.0)')} "
    f"AS density FROM ({_inner_density}) WHERE bin_0 >= 0 AND bin_0 < 50",
)

# -- events: day-bucketed histogram (timezone-proof day key via epoch)

_EVENTS_SPEC = HistogramSpec(axes=(Regular(10, 0.0, 100.0),),
                             storage=Storage.INT64)


def _q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two event-table histograms union-gated under a ``kind`` tag:
    the per-day windowed value histogram, plus a histogram over a field
    EXTRACTED from the semi-structured ``props`` JSON column
    (``get_json_object`` -> integer-category fill) — the fill pipeline
    composes with any Column expression, including JSON paths."""
    ev = get_tables(spark, sf_dir)["events"]
    day = F.floor(F.unix_timestamp(F.col("ts")) / 86400).alias("key")
    b = F.expr(_bin_sql(_EVENTS_SPEC.axes[0], "value")).alias("bin_0")
    daily = (
        ev.select(day, b)
        .groupBy("key", "bin_0")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("daily").alias("kind"), "key", "bin_0", "value")
    )
    k = F.get_json_object(F.col("props"), "$.k").cast("long").alias("key")
    json_k = (
        ev.select(k)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(F.lit("json_k").alias("kind"), "key",
                F.lit(None).cast("int").alias("bin_0"), "value")
    )
    return daily.unionByName(json_k)


from .binning import bin_sql as _bin_sql  # noqa: E402

_register(
    "hist_events_daily",
    _q_events_daily,
    "SELECT 'daily' AS kind, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS key, "
    f"{_bin_sql(_EVENTS_SPEC.axes[0], 'value')} AS bin_0, "
    "COUNT(*) AS value FROM events GROUP BY 1, 2, 3 "
    "UNION ALL "
    "SELECT 'json_k' AS kind, "
    "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS key, "
    "CAST(NULL AS INT) AS bin_0, COUNT(*) AS value "
    "FROM events GROUP BY 1, 2, 3",
)

# ---------------------------------------------------------------------------
# 2. LLM-data operators (dedup / similarity / text) — north-star extensions
# ---------------------------------------------------------------------------

_DUP_SQL = (
    "(SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents)"
)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = get_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    return d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))


# span-dedup leg of the dedup_exact_stats row: a 12-word boilerplate
# suffix planted on every 5th document (identical literal on both
# engines) so keep_first removal has real work at every sf
_SPAN_BOILER = ("all rights reserved contact the site admin team "
                "for removal requests today")
_SPAN_N = 6
_SPAN_MIN_DF = 2

# LINE-granularity leg (round-9): a shared footer LINE planted on
# every 3rd document; keep_first line dedup (n=1) strips it from all
# but the first.  The literal is already normalized (lowercase,
# single spaces) so cleaned-text md5s compare bit-equal.
_LINE_FOOTER = "shared footer boilerplate line"


def _line_ctes(src: str, min_df: int = _SPAN_MIN_DF) -> str:
    """DuckDB twin of granularity='line', n=1 keep_first removal over
    ``src`` (doc_id, text): tokens are normalized non-blank lines,
    each 1-line window covers exactly its own line, removal drops
    df>=min_df lines past their (doc_id, pos)-first occurrence —
    operators/spans.py semantics on line STRINGS (hash-agnostic)."""
    return f"""
lspl AS (
  SELECT doc_id, list_filter(
    list_transform(string_split(text, chr(10)),
      l -> array_to_string(
             list_filter(string_split_regex(lower(l), '\\s+'),
                         p -> p != ''), ' ')),
    s -> s != '') AS ltoks
  FROM {src}
), lw AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, ltoks[i] AS gram
  FROM (SELECT doc_id, ltoks,
               unnest(range(1, len(ltoks) + 1)) AS i
        FROM lspl WHERE len(ltoks) > 0)
), lmk AS (
  SELECT doc_id, pos, gram,
         COUNT(*) OVER (PARTITION BY gram) AS df,
         ROW_NUMBER() OVER (PARTITION BY gram
                            ORDER BY doc_id, pos) AS rk
  FROM lw
), lclean AS (
  SELECT doc_id,
         COALESCE(string_agg(
             CASE WHEN NOT (df >= {min_df} AND rk > 1) THEN gram END,
             chr(10) ORDER BY pos), '') AS clean_text,
         CAST(SUM(CASE WHEN df >= {min_df} AND rk > 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
  FROM lmk GROUP BY doc_id
)"""


def _span_ctes(src: str, n: int = _SPAN_N,
               min_df: int = _SPAN_MIN_DF,
               policy: str = "keep_first") -> str:
    """DuckDB CTE chain replicating operators/spans.py semantics on
    gram STRINGS (the engine groups by window hash; counts, ranks and
    removal sets are hash-function-agnostic).  Parameterized by the
    source CTE name — no textual surgery (round-6 ADVICE lesson) —
    and by ``policy``: 'keep_first' removes df>=min_df windows past
    their (doc_id, pos)-first occurrence; 'all' (the boilerplate mode
    the composed-chain leg replays) removes every occurrence."""
    rm = (f"df >= {min_df} AND rk > 1" if policy == "keep_first"
          else f"df >= {min_df}")
    rmk = rm.replace("df >=", "mk.df >=").replace("rk >", "mk.rk >")
    return f"""
spl AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM {src}
), w0 AS (
  SELECT doc_id, toks,
         unnest(range(1, GREATEST(len(toks) - {n} + 1, 1) + 1)) AS i
  FROM spl
), w AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         array_to_string(list_slice(toks, i, i + {n} - 1), ' ') AS gram,
         LEAST({n}, len(toks)) AS width
  FROM w0
), marked AS (
  SELECT doc_id, pos, width,
         COUNT(*) OVER (PARTITION BY gram) AS df,
         ROW_NUMBER() OVER (PARTITION BY gram
                            ORDER BY doc_id, pos) AS rk
  FROM w
), span_stats AS (
  SELECT doc_id,
         COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_windows,
         CAST(SUM(CASE WHEN df >= {min_df} AND rk > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_removable_windows,
         SUM(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END)::DOUBLE
               / COUNT(*) AS dup_fraction
  FROM marked GROUP BY doc_id
), words0 AS (
  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS j FROM spl
), words AS (
  SELECT doc_id, CAST(j - 1 AS INT) AS p, toks[j] AS word FROM words0
), removed AS (
  SELECT DISTINCT wd.doc_id, wd.p
  FROM words wd JOIN marked mk
    ON mk.doc_id = wd.doc_id
   AND {rmk}
   AND wd.p BETWEEN mk.pos AND mk.pos + mk.width - 1
), clean AS (
  SELECT wd.doc_id,
         COALESCE(string_agg(CASE WHEN r.p IS NULL THEN wd.word END,
                             ' ' ORDER BY wd.p), '') AS clean_text,
         CAST(SUM(CASE WHEN r.p IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_removed_words
  FROM words wd LEFT JOIN removed r
    ON r.doc_id = wd.doc_id AND r.p = wd.p
  GROUP BY wd.doc_id
)"""


def _q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_exact + exact_dup_stats + the SPAN-granularity leg gated
    in ONE row set: the per-doc survivors carry the (broadcast, 1-row)
    corpus dup profile as constant columns, plus each base document's
    duplicated-window profile and keep_first removal result
    (remove_duplicate_spans(with_stats=True) — the fused
    profile-and-clean pass — over the boilerplate-planted corpus:
    n_windows, n_dup_windows, n_removable_windows, dup_fraction,
    n_removed_words, clean_md5),
    plus the round-9 LINE-granularity leg (remove_duplicate_spans
    granularity='line' n=1 over a footer-line-planted corpus —
    line_n_removed, line_clean_md5)."""
    from .operators import (
        dedup_exact,
        exact_dup_stats,
        remove_duplicate_spans,
    )

    corpus = _dup_corpus(spark, sf_dir)
    kept = dedup_exact(corpus, exact=True)
    stats = exact_dup_stats(corpus)
    base = kept.crossJoin(F.broadcast(stats))

    d = get_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" " + _SPAN_BOILER)))
        .otherwise(F.col("text")))
    lplanted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit("\n" + _LINE_FOOTER)))
        .otherwise(F.col("text")))

    # fused profile-and-clean (round-9): with_stats=True makes the
    # dup_span_stats columns a free by-product of the removal scan's
    # window probes — one window pass + one gram aggregate instead of
    # the round-8 two-operator form's two of each
    def _word_leg():
        return remove_duplicate_spans(
            planted, n=_SPAN_N, min_df=_SPAN_MIN_DF, policy="keep_first",
            plan="auto", with_stats=True,
        ).select(
            "doc_id", "n_windows", "n_dup_windows", "n_removable_windows",
            "dup_fraction",
            F.col("n_removed_words").cast("long").alias("n_removed_words"),
            F.md5("clean_text").alias("clean_md5"),
        )

    def _line_leg():
        return remove_duplicate_spans(
            lplanted, n=1, min_df=_SPAN_MIN_DF, policy="keep_first",
            granularity="line",
        ).select(
            "doc_id",
            F.col("n_removed_words").cast("long").alias("line_n_removed"),
            F.md5("clean_text").alias("line_clean_md5"),
        )

    # The two removal legs each collect their (batch-bounded) dup-gram
    # set eagerly during construction, over DIFFERENT planted corpora —
    # fully independent driver barriers.  Build them from two driver
    # threads (guide §2.6: overlap independent jobs — the second leg's
    # gram-aggregate tasks back-fill executors the first leg's collect
    # tail leaves idle); each leg's plan is identical to the serial
    # form, only the submission overlaps.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_rc, f_lr = pool.submit(_word_leg), pool.submit(_line_leg)
        rc, lr = f_rc.result(), f_lr.result()
    return base.join(rc.join(lr, "doc_id"), "doc_id")


_register(
    "dedup_exact_stats",
    _q_dedup_exact_stats,
    # CASTs: DuckDB types bare SUM(int) as HUGEINT -> pandas float64,
    # which hash-mismatches Spark's bigint even when values agree.
    f"""WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' {_SPAN_BOILER}'
              ELSE text END AS text
  FROM documents
), lplanted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || chr(10) || '{_LINE_FOOTER}'
              ELSE text END AS text
  FROM documents
), {_span_ctes('planted')}, {_line_ctes('lplanted')}
SELECT k.doc_id, k.n_copies, s.n_distinct, s.n_dup_groups, s.n_removable,
       st.n_windows, st.n_dup_windows, st.n_removable_windows,
       st.dup_fraction, c.n_removed_words, md5(c.clean_text) AS clean_md5,
       lc.n_removed AS line_n_removed,
       md5(lc.clean_text) AS line_clean_md5
FROM (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies FROM {_DUP_SQL}
      GROUP BY text) k
CROSS JOIN
     (SELECT COUNT(*) AS n_distinct,
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
             CAST(SUM(n - 1) AS BIGINT) AS n_removable FROM
      (SELECT COUNT(*) AS n FROM {_DUP_SQL} GROUP BY text)) s
JOIN span_stats st ON st.doc_id = k.doc_id
JOIN clean c ON c.doc_id = k.doc_id
JOIN lclean lc ON lc.doc_id = k.doc_id""",
)


_INC_SIG_CACHE: dict = {}
_INC_SPAN_CACHE: dict = {}
_INC_SIG_SEQ = itertools.count()


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run dedup gate, THREE granularities under one kind tag:

    * ``kind='exact'`` — run N's crawl (exact re-crawls of every seen
      doc + a revised edition of each) anti-joined against run N-1's
      corpus; only the revised editions survive, collapsed to min-id
      winners, n = within-batch copy count.
    * ``kind='lsh'`` — the NEAR-dup companion: the seen corpus's
      banded signature projection is persisted ONCE per session
      (write_signature_table: bucketed on (band, bucket), write-time
      max_bucket skew cap), and every new doc reports n = how many
      seen docs it near-duplicates after the 24/32 component-agreement
      gate (0 = genuinely fresh).  The candidate join reads the seen
      side co-located with no exchange (plan-asserted in
      tests/test_plans.py::test_incremental_lsh_seen_side_...).
    * ``kind='span'`` — the SUB-document companion: the seen corpus's
      window-gram count table is persisted ONCE per session
      (write_span_gram_table: bucketed on h, n in the __params
      sidecar), and every new doc reports n = how many of its words
      cross-run keep_first span dedup strips (re-crawls strip
      everything; revised editions strip their unchanged interior;
      the batch's own internal duplication counts too).  The oracle
      reruns the full window/rank/removal chain over seen UNION batch
      — the incremental probe must equal batch semantics exactly.
    """
    from .operators import (
        dedup_incremental,
        dedup_incremental_lsh,
        remove_duplicate_spans_incremental,
        write_signature_table,
        write_span_gram_table,
    )

    seen = get_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    # batch ids must sit ABOVE every seen id: the span leg's
    # batch-over-union oracle needs seen ids to precede batch ids
    # (sf1's synthetic copies reach 9e7 and broke the old +100000
    # offsets — caught by the round-8 sf1 self-run).  Raise (not
    # assert — `python -O` strips asserts, round-8 ADVICE) so a
    # future bigger sf fails LOUDLY here instead of hash-mismatching
    # the driver row.
    from .operators.sizing import memoized_probe

    max_seen = memoized_probe(
        seen, ("max_id", "doc_id"),
        lambda: seen.agg(F.max("doc_id")).first())[0]
    if max_seen is None or max_seen >= 1_000_000_000:
        raise ValueError(
            f"dedup_incremental gate: seen doc_ids reach {max_seen}, "
            "interleaving with the +1e9/+2e9 batch offsets — raise the "
            "offsets (and the oracle's) above the seen id space")
    new = seen.select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
    ).unionByName(
        seen.select(
            (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" (rev2)")).alias("text"),
        )
    )
    key = (spark.sparkContext.applicationId, sf_dir)
    sig_tbl = _session_table(
        _INC_SIG_CACHE, key, "dhs_seen_sigs",
        lambda tbl, path: write_signature_table(
            seen, tbl, num_perm=32, bands=8, hash_fn="fnv1a32",
            max_bucket=64, n_buckets=16, path=path))
    span_tbl = _session_table(
        _INC_SPAN_CACHE, key, "dhs_seen_grams",
        lambda tbl, path: write_span_gram_table(
            seen, tbl, n=_SPAN_N, path=path))

    def _span_leg():
        spn = remove_duplicate_spans_incremental(
            new, span_tbl, min_df=_SPAN_MIN_DF).select(
            F.lit("span").alias("kind"), "doc_id",
            F.col("n_removed_words").cast("long").alias("n"))
        # land the (1 row/batch-doc) counts locally like the sibling
        # leg, so the rebuild scan ALSO runs inside this thread,
        # overlapped with exact+lsh, instead of serializing after them
        # at collect time
        if memoized_probe(new, ("nrows",),
                          lambda: new.count()) <= 2_000_000:
            return _land_local(spark, spn)
        return spn

    def _exact_lsh_legs():
        exact = dedup_incremental(new, seen).select(
            F.lit("exact").alias("kind"), "doc_id",
            F.col("n_copies").alias("n"))
        # name-based call: parameters come from the stored __params
        # sidecar
        lsh = dedup_incremental_lsh(new, sig_tbl, min_sig_matches=24)
        both = exact.unionByName(lsh.select(
            F.lit("lsh").alias("kind"), "doc_id",
            F.col("n_matched_seen").alias("n")))
        # land the (batch-bounded: <= 3 rows/batch doc) counts locally
        # via one Arrow collect — the embedding row's posture — so this
        # leg's execution OVERLAPS the span leg's eager dup-gram-set
        # collect in the sibling thread below (guide §2.6); a big batch
        # keeps the distributed plan (same 2M gate as the embedding
        # row, fed by the memoized row probe)
        if memoized_probe(new, ("nrows",),
                          lambda: new.count()) <= 2_000_000:
            return _land_local(spark, both)
        return both

    # The span leg collects its dup-gram set eagerly during
    # construction (~1/3 of this row's wall) while the exact+lsh legs
    # used to wait for collect time — two independent barriers, now
    # overlapped from two driver threads (the dedup_exact_stats
    # pattern; each leg's plan is unchanged).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_el, f_spn = pool.submit(_exact_lsh_legs), pool.submit(_span_leg)
        el, spn = f_el.result(), f_spn.result()
    return el.unionByName(spn)


# (dedup_incremental is registered AFTER the minhash oracle helpers
# below — its lsh kind's SQL twin composes _MH_HS/_MH_SIG/band SQL.)


def _q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ngram_jaccard_pairs

    d = get_tables(spark, sf_dir)["documents"]
    return ngram_jaccard_pairs(d, k=8, threshold=0.3)


# NOT registered as its own driver row (the maxdf variant below gates
# the same ngram_jaccard_pairs operator at the scale-honest config);
# the plain-config pair SQL feeds the dedup_clusters oracle.
_JACCARD_PAIRS_SQL = """
WITH ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS sh FROM (
    SELECT doc_id, list_distinct([substr(text, i, 8)
      FOR i IN range(1, greatest(len(text) - 7, 1) + 1)]) AS sh
    FROM documents)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(COUNT(*)::DOUBLE / (a.n_sh + b.n_sh - COUNT(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
GROUP BY 1, 2, a.n_sh, b.n_sh
HAVING jaccard >= 0.3
"""


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the jaccard candidate pairs: the
    choose-one-canonical-doc-per-near-dup-group step."""
    from .operators import dedup_clusters

    return dedup_clusters(_q_jaccard(spark, sf_dir))


# Recursive-CTE oracle: undirected transitive closure of the SAME pair
# set (small by construction at oracle SF), then min label per node.
_register(
    "dedup_clusters",
    _q_dedup_clusters,
    f"""
WITH RECURSIVE pairs AS ({_JACCARD_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
""",
)


def _q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP near-dup chain, one gated plan:
    minhash LSH candidates -> n_bands pruning -> exact jaccard
    verification on the pruned pair set -> connected-component
    clustering.  This is the shape a 100 TB dedup actually runs: the
    only all-pairs-ish step is the band-bucket equi-join, verification
    touches candidates only, and clustering iterates min-label
    propagation over the verified edges.

    Candidate precision levers (re-tuned in round 6 after the M31
    permutation fix — the earlier piecewise-monotone hash inflated
    every agreement count and bucket size; see ``_MERSENNE31`` in
    operators/dedup.py):

    * ``max_bucket=20`` — the standard skew guard for genuinely
      template-heavy buckets; with an honest permutation, buckets
      collapse to true near-duplicate groups, and the cap bounds the
      worst case rather than fighting hash artifacts.
    * ``min_sig_matches=10`` (of 32) — the two-tier verify gate,
      sized to the 0.5 verify threshold: agreement is
      Binomial(32, J), so a true J = 0.5 pair fails a >= 10 gate with
      probability ~0.8% while random-pair agreement (~J·32 ≈ 0-2)
      never passes — the gate cuts the exact-verify input to
      near-candidates only.  (The old 28/32 value only made sense
      under the broken hash, where even jaccard-0.03 pairs agreed on
      30+ components.)

    Verification then intersects 8-byte hashed shingles (see
    :func:`jaccard_verify_pairs`), not raw strings.
    """
    from .operators import (
        dedup_clusters,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        release_candidates_cache,
    )

    from .operators.dedup import _release_local_checkpoint

    corpus = _dup_corpus(spark, sf_dir)
    cands = minhash_lsh_candidates(corpus, num_perm=32, bands=8,
                                   hash_fn="fnv1a32", max_bucket=20,
                                   min_sig_matches=10)
    # checkpoint the (tiny, ~30k-row) pruned pair set: the verify step
    # consumes it three times (two involved-id scans + the pair join)
    # and would otherwise re-run the corpus pass each time.  (Round-15
    # A/B: landing it locally via a capped Arrow collect instead —
    # the dedup_clusters posture — was measured NEUTRAL-to-worse here:
    # same 20-job count, and the re-parallelized local relation made
    # the verify joins ~1 s slower; the checkpoint stays.)
    pruned = cands.localCheckpoint()
    # broadcast_pairs: pruned is a checkpointed ~C(max_bucket,2)-bounded
    # pair-id set (30k rows at sf0.1) with no stats — without the hint
    # the planner sort-merges and shuffles the shingle arrays twice
    # (round-15 plan audit)
    # eager_persist="auto" (default): the probe-gated lazy persist
    # skips one serial materialization barrier on small corpora (A/B:
    # -1.6 s/cycle at sf0.1) and stays eager once the shingle pass is
    # big enough for the bounded 2x race to cost more (1M-doc A/B:
    # eager wins by ~3 s) — see jaccard_verify_pairs
    verified = jaccard_verify_pairs(pruned, corpus, k=8, threshold=0.5,
                                    persist=True, broadcast_pairs=True)
    # dedup_clusters is eager (localCheckpoint-per-round), so by the
    # time it returns the verify join has fully run — release the
    # cached projections before handing the result back.
    clusters = dedup_clusters(verified)
    release_candidates_cache(verified)
    _release_local_checkpoint(pruned)
    return clusters


def _dedup_pipeline_oracle() -> str:
    """Flat CTE chain reproducing the whole flagship: seeded-minhash
    banding (same coefficient literals), candidate equi-join, exact
    8-gram jaccard verification via list_intersect, then the recursive
    transitive closure + min-label (same as the dedup_clusters oracle).
    """
    band_sql = _minhash_band_sql(bands=8, r=4, src="sig")
    return f"""
WITH RECURSIVE
h AS (SELECT doc_id, {_MH_HS} AS hs FROM {_DUP_SQL}),
sig AS (SELECT doc_id, {_MH_SIG} AS sig FROM h),
bnd AS ({band_sql}),
bok AS (
  SELECT band, bucket FROM bnd GROUP BY band, bucket
  HAVING COUNT(*) <= 20
),
bsm AS (
  SELECT b.doc_id, b.band, b.bucket
  FROM bnd b JOIN bok k ON b.band = k.band AND b.bucket = k.bucket
),
pairs0 AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b
  FROM bsm a JOIN bsm b2 ON a.band = b2.band AND a.bucket = b2.bucket
   AND a.doc_id < b2.doc_id GROUP BY 1, 2
),
pairs AS (
  SELECT p.id_a, p.id_b FROM pairs0 p
  JOIN sig sa ON sa.doc_id = p.id_a JOIN sig sb ON sb.doc_id = p.id_b
  WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) >= 10
),
sh AS (
  SELECT doc_id, list_distinct([substr(text, i, 8)
    FOR i IN range(1, greatest(len(text) - 7, 1) + 1)]) AS s
  FROM {_DUP_SQL}
),
ver AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b
  WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
              (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
        >= 0.5
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION SELECT id_b AS a, id_a AS b FROM ver
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


def _q_jaccard_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import ngram_jaccard_pairs

    d = get_tables(spark, sf_dir)["documents"]
    return ngram_jaccard_pairs(d, k=8, threshold=0.3, max_df=0.5)


_register(
    "ngram_jaccard_maxdf",
    _q_jaccard_maxdf,
    """
WITH ex0 AS (
  SELECT doc_id, unnest(sh) AS sh FROM (
    SELECT doc_id, list_distinct([substr(text, i, 8)
      FOR i IN range(1, greatest(len(text) - 7, 1) + 1)]) AS sh
    FROM documents)
), hot AS (
  SELECT sh FROM ex0 GROUP BY sh
  HAVING COUNT(*) > 0.5 * (SELECT COUNT(*) FROM documents)
), ex1 AS (
  SELECT doc_id, sh FROM ex0 WHERE sh NOT IN (SELECT sh FROM hot)
), ex AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n_sh, sh FROM ex1
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(COUNT(*)::DOUBLE / (a.n_sh + b.n_sh - COUNT(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
GROUP BY 1, 2, a.n_sh, b.n_sh
HAVING jaccard >= 0.3
""",
)


def _q_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import word_ngram_jaccard_pairs

    d = get_tables(spark, sf_dir)["documents"]
    return word_ngram_jaccard_pairs(d, n=3, threshold=0.3)


_register(
    "word_ngram_jaccard",
    _q_word_jaccard,
    r"""
WITH ex AS (
  SELECT doc_id, len(g) AS n_sh, unnest(g) AS sh FROM (
    SELECT doc_id, list_distinct([
        array_to_string(toks[i : i + 2], ' ')
        FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS g
    FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS toks
          FROM documents))
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(COUNT(*)::DOUBLE / (a.n_sh + b.n_sh - COUNT(*)), 6) AS jaccard
FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
GROUP BY 1, 2, a.n_sh, b.n_sh
HAVING jaccard >= 0.3
""",
)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_counts + text_stats in one gated row set, fused into ONE
    narrow projection over one scan (round 15: the previous
    join-of-two-projections form did NOT collapse — the plan carried a
    real BroadcastHashJoin and tokenized every document twice; at
    scale the join side is a full-corpus exchange).  doc_id is unique
    and non-null (the oracle's flat SELECT relies on the same), so the
    inner join on doc_id equals the single projection row-for-row."""
    from .operators.text import _text_stat_cols, _token_count_cols

    d = get_tables(spark, sf_dir)["documents"]
    # the projection is regex-heavy (6 regexp passes + splits per doc)
    # and the sf0.1 corpus arrives in ONE scan/cache partition — spread
    # it so the row isn't single-core (A/B: 0.70 -> 0.40 s median; at
    # scale the scan is already split and the exchange is one text
    # pass, dwarfed by the regex work it parallelizes)
    d = d.repartition(spark.sparkContext.defaultParallelism)
    stats = _text_stat_cols("text")
    extra = _token_count_cols("text")
    return d.select(
        F.col("doc_id"),
        *[c.alias(k) for k, c in stats.items()],
        *[extra[k].alias(k) for k in ("avg_token_len",
                                      "approx_subwords",
                                      "bpe_like_tokens")],
    )


def _ratio_sql(drop_pattern: str) -> str:
    # fraction of chars in the class: strip the complement, count survivors
    return (
        f"ROUND(length(regexp_replace(text, '{drop_pattern}', '', 'g'))"
        f" / GREATEST(length(text)::DOUBLE, 1.0), 6)"
    )


_TEXT_STATS_SQL = (
    r"""
SELECT doc_id,
       length(text) AS n_chars,
       len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
       """
    + _ratio_sql(r"[\x20-\x7E]") + " AS non_ascii_ratio,\n       "
    + _ratio_sql(r"[^0-9]") + " AS digit_ratio,\n       "
    + _ratio_sql(r"[^\.,;:!\?]") + " AS punct_ratio,\n       "
    + _ratio_sql(r"[^A-Z]") + " AS upper_ratio,\n       "
    + r"""ROUND(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> t IN ('the','a','of','and','to','in','is','that','it','for')))
         / GREATEST(len(string_split_regex(trim(lower(text)), '\s+'))::DOUBLE, 1.0), 6)
         AS stopword_ratio,
       ROUND((length(text) - len(string_split_regex(trim(lower(text)), '\s+')) + 1)
             / GREATEST(len(string_split_regex(trim(lower(text)), '\s+')), 1), 6)
         AS avg_token_len,
       CAST(CEIL(length(text) / 4.0) AS BIGINT) AS approx_subwords,
       CAST(len(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INT)
         AS bpe_like_tokens
FROM documents
"""
)

_register("text_stats", _q_text_stats, _TEXT_STATS_SQL)


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality_score + repetition_stats + normalize_text + redact_pii
    + the round-9 LM-score leg gated in ONE row set (registry
    consolidated to the driver's 50-row budget, COVERAGE.md round-5
    table): all are narrow maps or small aggregates over the same
    documents scan.  The LM leg (lm_score, CCNet-style self-scored
    bigram model) contributes n_bigrams / lp_micro / avg_lp10 —
    lp_micro is the order-independent integer-quantized log-prob sum,
    which is what makes a float LM score hash-gateable at all."""
    from .operators import (
        lm_score,
        normalize_text,
        quality_score,
        redact_pii,
        repetition_stats,
    )

    d = get_tables(spark, sf_dir)["documents"]
    nr = redact_pii(normalize_text(d)).select(
        "doc_id",
        F.length("norm_text").alias("n_norm_chars"),
        "norm_text",
        "redacted_text",
        (F.col("redacted_text") != F.col("text")).cast("int").alias("changed"),
    )
    lm = lm_score(d.select("doc_id", "text")).select(
        "doc_id", "n_bigrams", "lp_micro", "avg_lp10")
    # round-10 PRODUCTION-SHAPE leg (round-9 VERDICT missing #3): a
    # true reference-corpus scoring — the even-id half of the corpus
    # trains the model (ref_df != df, so odd docs genuinely hit
    # unseen transitions) — under min_count=2 pruning, i.e. the
    # pruned-broadcast zero-exchange configuration lm_score's
    # docstring sells as the 100-TB scoring plan (broadcast asserted
    # in tests/test_plans.py).  Contributes ref_n_unseen /
    # ref_lp_micro / ref_avg_lp10, hash-gated against a fully
    # parameter-matched DuckDB twin (_LM_REF_SQL).
    ref = d.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    lmr = lm_score(d.select("doc_id", "text"), ref_df=ref,
                   min_count=2).select(
        "doc_id",
        F.col("n_unseen_bigrams").alias("ref_n_unseen"),
        F.col("lp_micro").alias("ref_lp_micro"),
        F.col("avg_lp10").alias("ref_avg_lp10"))
    # round-11 HASHED-MODEL leg (round-10 VERDICT #2): the same
    # production configuration under hashed_model=True — the 100M-doc
    # shuffle posture (64-bit xxhash64 token keys through the model
    # aggregates AND the scoring join; text.py:537).  The oracle is
    # the SAME string-keyed DuckDB chain: below ~1e9 bigram types the
    # token hash is injective w.h.p. (pair-collision odds ~types^2 /
    # 2^65 ~ 1e-11 at gate scale), so hashed-keyed counts equal
    # string-keyed counts EXACTLY — and a collision would surface as
    # a loud hash-mismatch on this row, never a silent pass.  This
    # drives the hashed join path end-to-end on the driver board,
    # which the differential pytest alone could not.
    lmh = lm_score(d.select("doc_id", "text"), ref_df=ref,
                   min_count=2, hashed_model=True).select(
        "doc_id",
        F.col("n_unseen_bigrams").alias("href_n_unseen"),
        F.col("lp_micro").alias("href_lp_micro"),
        F.col("avg_lp10").alias("href_avg_lp10"))
    return (
        quality_score(d)
        .join(repetition_stats(d), "doc_id")
        .join(nr, "doc_id")
        .join(lm, "doc_id")
        .join(lmr, "doc_id")
        .join(lmh, "doc_id")
    )


_QUALITY_GATES_SQL = """(
    CASE WHEN n_chars >= 200 AND n_chars <= 20000 THEN 1 ELSE 0 END
  + CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END
  + CASE WHEN digit_ratio <= 0.2 THEN 1 ELSE 0 END
  + CASE WHEN non_ascii_ratio <= 0.1 THEN 1 ELSE 0 END
  + CASE WHEN stopword_ratio >= 0.05 THEN 1 ELSE 0 END)"""

_REPETITION_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
           FROM documents)
-- grams built ONCE in the CTE; numerator and denominator of
-- top_2gram_ratio must share the same g2 expression
, g AS (
  SELECT doc_id,
    [array_to_string(toks[i:i+1], ' ')
     FOR i IN range(1, greatest(len(toks) - 1, 1) + 1)] AS g2,
    [array_to_string(toks[i:i+2], ' ')
     FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)] AS g3
  FROM t)
, top AS (
  -- max 2-gram multiplicity relationally (unnest + group), not via
  -- O(d*u) list lambdas
  SELECT doc_id, MAX(c) AS topc FROM (
    SELECT doc_id, gram, COUNT(*) AS c FROM (
      SELECT doc_id, unnest(g2) AS gram FROM g)
    GROUP BY doc_id, gram)
  GROUP BY doc_id)
SELECT g.doc_id,
  ROUND(1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6)
    AS dup_2gram_ratio,
  ROUND(1.0 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
    AS dup_3gram_ratio,
  ROUND(top.topc / CAST(len(g2) AS DOUBLE), 6) AS top_2gram_ratio
FROM g JOIN top USING (doc_id)
"""

from .operators.text import normalize_text_sql as _norm_sql  # noqa: E402
from .operators.text import redact_pii_sql as _redact_sql  # noqa: E402

# DuckDB twin of lm_score(self-scored, k=1, min_count=1): add-1
# bigram model over the pinned tokenization; per-bigram log10-probs
# quantized to integer micro-units with FLOOR before the (exact,
# order-independent) integer sum — see lm_score's docstring.
_LM_SCORE_SQL = r"""
WITH lmt AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents
), lmb AS (
  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        FROM lmt WHERE len(tk) > 1)
), lmu AS (
  SELECT token, COUNT(*) AS c1 FROM (
    SELECT unnest(tk) AS token FROM lmt) GROUP BY token
), lmv AS (SELECT COUNT(*) AS v FROM lmu),
lmc AS (SELECT a, b, COUNT(*) AS c2 FROM lmb GROUP BY a, b),
lms AS (
  SELECT lmb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(FLOOR(log10((lmc.c2 + 1.0) / (lmu.c1 + 1.0 * lmv.v))
                             * 1000000) AS BIGINT)) AS BIGINT) AS lp_micro
  FROM lmb JOIN lmc USING (a, b)
       JOIN lmu ON lmu.token = lmb.a
       CROSS JOIN lmv
  GROUP BY lmb.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(s.n_bigrams, 0) END AS n_bigrams,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(s.lp_micro, 0) END AS lp_micro,
       CASE WHEN COALESCE(s.n_bigrams, 0) > 0
            THEN s.lp_micro / (s.n_bigrams * 1e6) END AS avg_lp10
FROM documents d LEFT JOIN lms s ON s.doc_id = d.doc_id
"""

# DuckDB twin of lm_score(ref_df=even-id half, k=1, min_count=2) —
# the PRODUCTION shape: the model trains on the even-id sub-corpus
# only (unigram context counts UNPRUNED, V = full reference
# vocabulary — pruning either would shift rare contexts' scores, see
# lm_score's min_count comment), bigram counts below min_count drop
# from the model, and scored bigrams LEFT-join it so unseen
# transitions take COALESCE(c2,0)/COALESCE(c1,0) — exactly the
# engine's null-coalesced smoothing floor.
_LM_REF_SQL = r"""
WITH lrt AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
  FROM documents
), lrb AS (
  SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
        FROM lrt WHERE len(tk) > 1)
), lru AS (
  SELECT token, COUNT(*) AS c1 FROM (
    SELECT unnest(tk) AS token FROM lrt WHERE doc_id % 2 = 0)
  GROUP BY token
), lrv AS (SELECT COUNT(*) AS v FROM lru),
lrc AS (SELECT a, b, COUNT(*) AS c2 FROM lrb WHERE doc_id % 2 = 0
        GROUP BY a, b HAVING COUNT(*) >= 2),
lrs AS (
  SELECT lrb.doc_id,
         CAST(COUNT(*) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN lrc.c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS ref_n_unseen,
         CAST(SUM(CAST(FLOOR(log10((COALESCE(lrc.c2, 0) + 1.0)
                                   / (COALESCE(lru.c1, 0) + 1.0 * lrv.v))
                             * 1000000) AS BIGINT)) AS BIGINT)
           AS ref_lp_micro
  FROM lrb LEFT JOIN lrc ON lrc.a = lrb.a AND lrc.b = lrb.b
       LEFT JOIN lru ON lru.token = lrb.a
       CROSS JOIN lrv
  GROUP BY lrb.doc_id
)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(s.ref_n_unseen, 0) END AS ref_n_unseen,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE COALESCE(s.ref_lp_micro, 0) END AS ref_lp_micro,
       CASE WHEN COALESCE(s.nb, 0) > 0
            THEN s.ref_lp_micro / (s.nb * 1e6) END AS ref_avg_lp10
FROM documents d LEFT JOIN lrs s ON s.doc_id = d.doc_id
"""

_register(
    "text_quality",
    _q_quality,
    # lmref is hoisted into ONE materialized CTE joined twice (lr =
    # engine's string-keyed ref leg, lh = hashed_model leg): inlining
    # _LM_REF_SQL per join made DuckDB evaluate the most expensive
    # subchain of the quality oracle twice per gate run (round-11
    # ADVICE)
    f"""
WITH lmref AS MATERIALIZED ({_LM_REF_SQL})
SELECT q.doc_id, q.n_chars, q.n_tokens, q.quality_score, q.keep,
       r.dup_2gram_ratio, r.dup_3gram_ratio, r.top_2gram_ratio,
       n.n_norm_chars, n.norm_text, n.redacted_text, n.changed,
       lm.n_bigrams, lm.lp_micro, lm.avg_lp10,
       lr.ref_n_unseen, lr.ref_lp_micro, lr.ref_avg_lp10,
       -- hashed_model leg: the string-keyed chain IS the oracle —
       -- xxhash64 token keys are injective at gate scale, so the
       -- hashed engine path must reproduce these values exactly
       lh.ref_n_unseen AS href_n_unseen,
       lh.ref_lp_micro AS href_lp_micro,
       lh.ref_avg_lp10 AS href_avg_lp10
FROM (
  SELECT doc_id, n_chars, n_tokens,
         {_QUALITY_GATES_SQL} AS quality_score,
         CASE WHEN {_QUALITY_GATES_SQL} >= 4 THEN 1 ELSE 0 END AS keep
  FROM ({_TEXT_STATS_SQL})
) q JOIN ({_REPETITION_SQL}) r ON q.doc_id = r.doc_id
JOIN (
  SELECT doc_id, length({_norm_sql()}) AS n_norm_chars,
         {_norm_sql()} AS norm_text,
         {_redact_sql()} AS redacted_text,
         CAST({_redact_sql()} != text AS INT) AS changed
  FROM documents
) n ON q.doc_id = n.doc_id
JOIN ({_LM_SCORE_SQL}) lm ON q.doc_id = lm.doc_id
JOIN lmref lr ON q.doc_id = lr.doc_id
JOIN lmref lh ON q.doc_id = lh.doc_id
""",
)


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """language_id + fingerprint gated in ONE row set (registry
    consolidated to the driver's 50-row budget) via ``text_profile`` —
    the one-pass Arrow kernel computing both features from a single
    tokenization (differentially tested against the two single-feature
    operators; fnv1a32 is the oracle-checkable hash configuration)."""
    from .operators import text_profile

    return text_profile(get_tables(spark, sf_dir)["documents"])


def _lang_score_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        r"len(list_filter(string_split_regex(trim(lower(text)), '\s+'), "
        f"t -> t IN ({lst})))"
    )


def _language_id_oracle() -> str:
    from .operators.text import STOPWORDS

    scores = ",\n       ".join(
        f"{_lang_score_sql(ws)} AS s_{lang}" for lang, ws in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    cases = " ".join(
        f"WHEN {best} > 0 AND s_{l} = {best} THEN '{l}'" for l in langs
    )
    return (
        f"SELECT doc_id, CASE {cases} ELSE 'unknown' END AS pred_lang, "
        + ", ".join(f"s_{l}" for l in langs)
        + f" FROM (SELECT doc_id, text,\n       {scores}\nFROM documents)"
    )


# (text_language_id is registered below, merged with the fingerprint
# row — its oracle needs _FNV_TOKEN, defined later in this module.)


# embedding_norms is gated through the merged embedding_norms_quantize
# row (registered with the quantization entry below — same embeddings
# scan, norm columns constant per vec).
_EMB_NORMS_SQL = (
    "SELECT vec_id, ROUND(sqrt(list_aggregate(list_transform("
    "CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 6) AS l2_norm, "
    "len(embedding) AS dim FROM embeddings"
)


def _q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import brute_force_topk

    emb = get_tables(spark, sf_dir)["embeddings"]
    # the corpus side scores k x dim array arithmetic per row and the
    # sf0.1 parquet is ONE scan partition — spread it so the scoring
    # isn't single-core (A/B: 0.81 -> 0.55 s median; the queries side
    # stays unspread, it is broadcast).  At scale the scan is already
    # split and the operator remains shuffle-free on the big side.
    big = emb.repartition(spark.sparkContext.defaultParallelism)
    return brute_force_topk(big, emb.where(F.col("vec_id") < 8), k=5)


_register(
    "similarity_topk",
    _q_topk,
    """
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(v.embedding AS DOUBLE[])), 6) AS cos_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(v.embedding AS DOUBLE[])), 6) DESC,
                    v.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings v ON v.vec_id != q.vec_id
  WHERE q.vec_id < 8)
WHERE rank <= 5
""",
)

# ---------------------------------------------------------------------------
# 3. rows-only queries (non-SQL-expressible: hashing/UDF/window internals)
# ---------------------------------------------------------------------------


_SINK_CACHE: dict = {}
_SINK_SHARDS = 8
_SINK_SEED = 7


def _sink_roundtrip_path(spark: SparkSession, sf_dir: str,
                         prepared: DataFrame) -> str:
    """Write the prepared corpus as training shards ONCE per (session,
    sf_dir) and return the shard directory — the corpus SINK's driver
    gate (round-8 VERDICT #3).  The write itself validates loudly:

    * manifest totals equal the input row count and the per-shard
      counts cover exactly shards 0..n-1;
    * the written within-shard order is SORTED by the seeded shuffle
      key xxhash64(doc_id, seed) — which makes rerun determinism hold
      by construction (the order is a pure function of the ids), the
      contract test_sources pins file-level.  Order is read back via
      per-file position (``_metadata.row_index`` — true row order
      within each written file regardless of how many read splits the
      file spans or how many files a shard grew to); violations are
      counted distributed-side, never collected.  Within-FILE order is
      the writer's actual guarantee (sortWithinPartitions before a
      one-file-per-task write); cross-file order inside a shard is not
      promised and not checked.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _SINK_CACHE:
        import shutil
        import tempfile

        from .sources import write_training_shards

        tmp = tempfile.mkdtemp(prefix="dhs_sink_gate_")
        path = os.path.join(tmp, "shards")
        manifest = write_training_shards(
            prepared, path, n_shards=_SINK_SHARDS,
            shuffle_seed=_SINK_SEED)
        n_in = prepared.count()
        if manifest["total_rows"] != n_in:
            raise ValueError(
                f"sink gate: manifest total_rows={manifest['total_rows']}"
                f" != input rows {n_in}")
        # count VALUES, not keys (the manifest constructs keys
        # 0..n-1 unconditionally, so a key check is tautological —
        # round-9 review): at gate scale every shard is non-empty
        # w.h.p. under hash uniformity (P[empty] ~ 8*(7/8)^479 ~
        # 1e-28), so an empty shard means lost data or a broken
        # assignment, not chance
        # threshold 25x shards (200 rows): P[chance-empty shard] =
        # 8*(7/8)^200 ~ 2e-11 — statistically safe AND below the
        # sf0.01 gate's 479 rows, so the check actually fires where
        # the gate runs (a 100x threshold silently disabled it there
        # — second review pass)
        empty = [k for k, v in manifest["rows_per_shard"].items()
                 if v == 0]
        if n_in >= 25 * _SINK_SHARDS and empty:
            raise ValueError(
                f"sink gate: shards {empty} came back EMPTY from the "
                f"written files ({n_in} rows over {_SINK_SHARDS} "
                "shards) — lost shard directory or broken pmod "
                "assignment")
        from pyspark.sql import Window

        back = spark.read.parquet(path).select(
            "*",
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.row_index").alias("__pos"))
        ow = Window.partitionBy("shard", "__file").orderBy("__pos")
        k = F.xxhash64(F.col("doc_id"), F.lit(_SINK_SEED))
        bad = (back.withColumn("__prev", F.lag(k).over(ow))
               .where(F.col("__prev").isNotNull() & (k < F.col("__prev")))
               .count())
        if bad:
            raise ValueError(
                f"sink gate: {bad} rows out of seeded-shuffle order "
                "within their shard — the within-shard sort was "
                "eliminated (Sort-over-Sort regression?)")
        _cache_put(_SINK_CACHE, key, path,
                   lambda tmp=tmp: shutil.rmtree(tmp,
                                                 ignore_errors=True))
    return _SINK_CACHE[key][0]


def _q_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prepare_training_corpus + the round-9 SINK ROUND-TRIP leg: the
    prepared frame is written via write_training_shards (pmod/xxhash64
    membership, seeded within-shard shuffle) and read back; every
    output row carries ``sink_ok`` = 1 iff the doc came back exactly
    once, in the pmod(xxhash64(id), n)-assigned shard, with every
    column byte-equal.  The oracle pins sink_ok to the literal 1 —
    any loss, duplication, misplacement or corruption in the sink
    hash-mismatches the row (manifest/order invariants raise loudly
    inside :func:`_sink_roundtrip_path`)."""
    from .operators.pipeline import prepare_training_corpus

    dup = _dup_corpus(spark, sf_dir)
    prepared = prepare_training_corpus(dup)
    path = _sink_roundtrip_path(spark, sf_dir, prepared)
    back = spark.read.parquet(path)
    val_cols = [c for c in prepared.columns if c != "doc_id"]
    eq = (F.col("shard") == F.pmod(F.xxhash64(F.col("doc_id")),
                                   F.lit(_SINK_SHARDS)).cast("int"))
    for c in val_cols:
        # eqNullSafe, not ==: a nullable column's NULL==NULL would
        # evaluate to NULL, coalesce to False, and flag a faithful
        # round-trip as corrupt (round-9 ADVICE)
        eq = eq & F.col(f"b_{c}").eqNullSafe(F.col(c))
    b = back.select(
        "doc_id", "shard",
        *[F.col(c).alias(f"b_{c}") for c in val_cols])
    ok = (prepared.join(b, "doc_id", "left")
          .groupBy("doc_id", *val_cols)
          .agg(((F.count(F.lit(1)) == 1)
                & F.min(F.coalesce(eq, F.lit(False))))
               .cast("int").alias("sink_ok")))
    return ok.select("doc_id", *val_cols, "sink_ok")


# ---------------------------------------------------------------------------
# COMPOSED CORPUS-CHAIN leg (round-10 VERDICT #1): a gate-scale replay
# of scripts/blowup_corpus_e2e.py's exact-planted-accounting chain —
# span strip -> exact dedup -> near-dup (LSH -> verify -> clusters) ->
# LM filter -> contamination -> prepare — folded into the
# pipeline_corpus_stats row under the kind-leg pattern, so a STAGE-
# INTERACTION regression (the failure class the 1M/10M capstone proved
# per-operator rows cannot see) reaches the driver's correctness board.
#
# The planted corpus is generated CLOSED-FORM from row ids with md5
# arithmetic available verbatim in BOTH engines (one SQL text template,
# only the int->string cast spelling differs), so the DuckDB oracle
# replays generation AND every stage from the same spec:
#   * plain doc  = 29 hash-derived words from a 16-word vocabulary +
#     one doc-unique trailer word 'u<id>' (guarantees exact-distinctness
#     and kills every window/gram straddle — the scale-dependent
#     straddle widening the 100k e2e smoke run caught);
#   * id%13==6  -> GIBBERISH (30 doc-unique words; every bigram a
#     singleton -> pruned from the min_count=2 LM model -> scored
#     unseen, ~1.5 decades under plain docs);
#   * id%5==0   -> 8-word FOOTER appended (df ~ n/5 >> min_df=10; the
#     three footer-only windows cover all 8 words under policy='all');
#   * id%7==3   -> verbatim COPY at id+_CHAIN_C_OFF (dies at exact);
#   * id%11==4  -> NEAR-DUP at id+_CHAIN_N_OFF (text + unique ' q<id>'
#     word: char-8-gram jaccard ~0.9, detected by the 32-perm/8-band
#     chain, loser = the higher id);
#   * id%17==5 (plain-only) -> BENCHMARK doc (contamination flags
#     exactly the surviving plants at 6-gram overlap 1.0).
# Engine-side raises assert the planted accounting per stage (budgeted
# for the documented LSH bucket-cap recall, like the e2e capstone); the
# hash gate additionally pins every stage's survivor/metric counts to
# the DuckDB replay.
# ---------------------------------------------------------------------------

_CHAIN_FOOTER = "ftr0 ftr1 ftr2 ftr3 ftr4 ftr5 ftr6 ftr7"
_CHAIN_C_OFF = 10_000_000
_CHAIN_N_OFF = 20_000_000
_CHAIN_W = 29          # hash-derived words per plain doc (+1 unique)
_CHAIN_GIB_W = 30
_CHAIN_SPAN_N = 6
_CHAIN_SPAN_MIN_DF = 10
_CHAIN_LM_MICRO = -2_500_000   # avg_lp10 threshold -2.5, in micro-units
_CHAIN_CONTAM_N = 6
_CHAIN_CONTAM_T = 0.5
# tail stages (round-12): split ratios shared by the engine leg and
# the oracle's hash_split_sql twin; exact binary-ish doubles are not
# required — both sides derive identical integer thresholds from the
# same floats
_CHAIN_SPLIT = {"train": 0.95, "val": 0.05}


def _chain_plain_sql(ids: str) -> str:
    """Plain-doc text: 29 words 'w'+hex16(md5(id-k)) + unique 'u<id>'.
    ``ids`` is the engine-appropriate int->string cast of the id."""
    ws = [f"concat('w', substring(md5(concat({ids}, '-{k}')), 1, 1))"
          for k in range(_CHAIN_W)]
    ws.append(f"concat('u', {ids})")
    return "concat_ws(' ', " + ", ".join(ws) + ")"


def _chain_gib_sql(ids: str) -> str:
    ws = [f"concat('g', {ids}, 'x{k}')" for k in range(_CHAIN_GIB_W)]
    return "concat_ws(' ', " + ", ".join(ws) + ")"


def _chain_text_sql(ids: str) -> str:
    """The full base-doc CASE (gibberish beats footer beats plain) —
    one template parsed by BOTH Spark (F.expr) and DuckDB."""
    return (f"CASE WHEN id % 13 = 6 THEN {_chain_gib_sql(ids)} "
            f"WHEN id % 5 = 0 THEN concat({_chain_plain_sql(ids)}, "
            f"' {_CHAIN_FOOTER}') "
            f"ELSE {_chain_plain_sql(ids)} END")


def _chain_layout(n: int) -> dict:
    """Closed-form planted accounting over base ids 0..n-1."""
    gib = [i for i in range(n) if i % 13 == 6]
    gibs = set(gib)
    footer = [i for i in range(n) if i % 5 == 0 and i not in gibs]
    fset = set(footer)
    copies = [i for i in range(n) if i % 7 == 3]
    nears = [i for i in range(n) if i % 11 == 4]
    bench = [i for i in range(n)
             if i % 17 == 5 and i % 11 != 4 and i % 13 != 6]
    return {
        "n": n,
        "n_gib": len(gib),
        "n_copy": len(copies),
        "n_near": len(nears),
        "n_near_gib": sum(1 for i in nears if i in gibs),
        "n_bench": len(bench),
        # footer-carrying docs in the FULL corpus: base + copies/nears
        # whose source carries the footer
        "n_footer_corpus": (len(footer)
                            + sum(1 for i in copies if i in fset)
                            + sum(1 for i in nears if i in fset)),
        "corpus_n": n + len(copies) + len(nears),
    }


def _chain_leg_rows(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the composed chain at gate scale; return one accounting row
    per stage, raising on any planted-accounting violation."""
    from .operators import (
        contamination_check,
        dedup_clusters,
        dedup_exact,
        jaccard_verify_pairs,
        lm_score,
        minhash_lsh_candidates,
        release_candidates_cache,
        release_clusters_checkpoint,
        remove_duplicate_spans,
    )
    from .operators.dedup import _release_local_checkpoint
    from .operators.pipeline import (
        corpus_stats,
        pack_sequences,
        prepare_training_corpus,
    )

    n = get_tables(spark, sf_dir)["documents"].count()
    lay = _chain_layout(n)

    ids = "CAST(id AS STRING)"
    gtx = spark.range(n).select(
        F.col("id"), F.expr(_chain_text_sql(ids)).alias("text"))
    corp = (gtx.select(F.col("id").alias("doc_id"), "text")
            .unionByName(gtx.where(F.col("id") % 7 == 3).select(
                (F.col("id") + _CHAIN_C_OFF).alias("doc_id"), "text"))
            .unionByName(gtx.where(F.col("id") % 11 == 4).select(
                (F.col("id") + _CHAIN_N_OFF).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" q"),
                         F.col("id").cast("string")).alias("text")))
            .localCheckpoint())
    live = [corp]

    def chk(name, got, want):
        if got != want:
            raise AssertionError(
                f"chain {name}: got {got!r}, want {want!r}")

    def step(frame):
        out = frame.localCheckpoint()
        cnt = out.count()
        while live:
            _release_local_checkpoint(live.pop())
        live.append(out)
        return out, cnt

    rows: list[tuple] = []
    corp_n = corp.count()
    chk("input rows", corp_n, lay["corpus_n"])
    rows.append(("chain", "input", corp_n, None, None, None, None))

    # 1. span strip (boilerplate mode: policy='all', broadcast plan)
    sp, sp_n = step(remove_duplicate_spans(
        corp, n=_CHAIN_SPAN_N, min_df=_CHAIN_SPAN_MIN_DF,
        policy="all", plan="broadcast")
        .select("doc_id", "n_removed_words",
                F.col("clean_text").alias("text")))
    removed = sp.agg(F.sum("n_removed_words")).first()[0]
    chk("span rows", sp_n, corp_n)
    chk("span removed words", removed, 8 * lay["n_footer_corpus"])
    rows.append(("chain", "span", sp_n, int(removed), None, None, None))
    sp = sp.select("doc_id", "text")

    # 2. exact dedup (hash-keyed winners; copies die)
    ex, ex_n = step(sp.join(dedup_exact(sp).select("doc_id"), "doc_id"))
    chk("exact survivors", ex_n, corp_n - lay["n_copy"])
    rows.append(("chain", "exact", ex_n, corp_n - ex_n, None, None, None))

    # 3. near-dup chain (the flagship configuration)
    cands = minhash_lsh_candidates(ex, num_perm=32, bands=8,
                                   hash_fn="fnv1a32", max_bucket=20,
                                   min_sig_matches=10)
    pruned = cands.localCheckpoint()
    verified = jaccard_verify_pairs(pruned, ex, k=8, threshold=0.5,
                                    persist=True)
    clusters = dedup_clusters(verified)
    losers = clusters.where(F.col("cluster_id") != F.col("doc_id")) \
        .select("doc_id").localCheckpoint()
    release_candidates_cache(verified)
    release_clusters_checkpoint(clusters)
    _release_local_checkpoint(pruned)
    # exactness contract: planted near ids are the only admissible
    # losers (any loser below _CHAIN_N_OFF is a FALSE removal);
    # candidate recall is bounded-and-reported, not assumed perfect
    # (max_bucket caps drop mega-bucket candidates by design)
    unplanned = losers.where(F.col("doc_id") < _CHAIN_N_OFF).count()
    chk("unplanned near-dup removals", unplanned, 0)
    nd, nd_n = step(ex.join(losers, "doc_id", "left_anti"))
    _release_local_checkpoint(losers)
    missed = lay["n_near"] - (ex_n - nd_n)
    budget = max(2, lay["n_near"] // 200)
    if not 0 <= missed <= budget:
        raise AssertionError(
            f"chain near-dup recall: {missed} planted pairs missed "
            f"(budget {budget})")
    rows.append(("chain", "near", nd_n, ex_n - nd_n, None, None, None))

    # 4. LM filter, production shape (self-scored, min_count=2 pruned
    # model): gibberish bigrams are singletons -> pruned -> unseen;
    # integer micro-unit threshold keeps the filter bit-equal across
    # engines (lm_score's lp_micro contract)
    lmk, lm_n = step(lm_score(nd, min_count=2)
                     .where(F.col("lp_micro")
                            >= F.lit(_CHAIN_LM_MICRO) * F.col("n_bigrams"))
                     .select("doc_id", "text"))
    dropped = nd_n - lm_n
    if not (lay["n_gib"] <= dropped <= lay["n_gib"] + missed):
        raise AssertionError(
            f"chain lm filter: dropped {dropped}, want n_gib="
            f"{lay['n_gib']} (+<= {missed} surviving gibberish nears)")
    rows.append(("chain", "lm", lm_n, dropped, None, None, None))

    # 5. contamination: benchmark = closed-form plain texts of the
    # bench ids (plain-only by construction, so each survives to here
    # and matches its corpus twin at 6-gram overlap 1.0)
    bench = (spark.range(n)
             .where((F.col("id") % 17 == 5) & (F.col("id") % 11 != 4)
                    & (F.col("id") % 13 != 6))
             .select(F.col("id").alias("doc_id"),
                     F.expr(_chain_plain_sql(ids)).alias("text")))
    cont = contamination_check(lmk, bench, n=_CHAIN_CONTAM_N,
                               threshold=_CHAIN_CONTAM_T)
    cl, cl_n = step(cont.where(F.col("contaminated") == 0)
                    .select("doc_id").join(lmk, "doc_id"))
    chk("contamination flagged", lm_n - cl_n, lay["n_bench"])
    rows.append(("chain", "contam", cl_n, lm_n - cl_n, None, None, None))

    # 6. prepare + stats (every surviving doc passes the e2e gates);
    # the per-doc frame stays checkpointed for the tail's pack join
    prep = prepare_training_corpus(
        cl, min_chars=40, max_digit_ratio=0.95,
        min_tokens=5).localCheckpoint()
    fin = corpus_stats(prep).first()
    chk("prepare kept", fin["n_docs"], cl_n)
    rows.append(("chain", "final", int(fin["n_docs"]), None,
                 int(fin["total_tokens"]), int(fin["total_bpe_tokens"]),
                 int(fin["total_chars"])))

    # 7. quota/mix + deterministic split (round-11 VERDICT #2: the
    # tail stages the e2e capstone chains were script-only — their
    # stage INTERACTIONS now reach the correctness board).  Four
    # pseudo-sources carved from the id, exact top-q-by-hash cap at
    # 80% of the smallest source (integer 4*min//5 so Python and
    # DuckDB agree exactly), then the zero-shuffle hash split.
    from .operators import hash_split, quota_sample

    src = cl.withColumn(
        "source",
        F.concat(F.lit("s"), F.pmod(F.col("doc_id"),
                                    F.lit(4)).cast("string")))
    per = {r["source"]: r["n"] for r in
           src.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
           .collect()}
    q = max(1, (4 * min(per.values())) // 5)
    mixed, mx_n = step(hash_split(
        quota_sample(src, q, group_col="source", seed=13,
                     validate=False),
        _CHAIN_SPLIT))
    chk("quota kept", mx_n, sum(min(q, v) for v in per.values()))
    kept = {r["source"]: r["n"] for r in
            mixed.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    for s in sorted(per):
        chk(f"quota {s} kept", kept.get(s, 0), min(q, per[s]))
        rows.append(("chain", f"quota_{s}", kept.get(s, 0),
                     per[s] - kept.get(s, 0), None, None, None))
    for s, n_s in sorted(
            (r["split"], r["n"]) for r in
            mixed.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
            .collect()):
        rows.append(("chain", f"split_{s}", n_s, None, None, None, None))

    # 8. pack: fixed 512-token budget per split group over the REAL
    # BPE-style token counts from prepare; a sequence may overshoot
    # only by its straddling doc (pack_sequences' quota contract)
    pk, pk_n = step(pack_sequences(
        mixed.join(prep.select("doc_id", "n_bpe_tokens"), "doc_id"),
        max_tokens=512, tokens_col="n_bpe_tokens", group_col="split")
        .select("doc_id", "source", "split", "n_bpe_tokens", "seq_id"))
    _release_local_checkpoint(prep)
    chk("pack rows", pk_n, mx_n)
    max_doc = pk.agg(F.max("n_bpe_tokens")).first()[0]
    worst = (pk.groupBy("split", "seq_id")
             .agg(F.sum("n_bpe_tokens").alias("t"))
             .agg(F.max("t")).first()[0])
    if worst >= 512 + max_doc:
        raise AssertionError(
            f"chain pack budget: {worst} >= 512+{max_doc}")
    n_seq = pk.select("split", "seq_id").distinct().count()
    tot_bpe = pk.agg(F.sum("n_bpe_tokens")).first()[0]
    rows.append(("chain", "pack", pk_n, n_seq, None, int(tot_bpe),
                 None))

    # 9. sink: sharded write + manifest == read-back reconciliation
    # (metric is the 0/1 sink_ok verdict; the chks raise on any lost
    # or duplicated row before the board ever sees a green 1)
    import shutil
    import tempfile

    from .sources import write_training_shards

    d = tempfile.mkdtemp(prefix="dhs_chain_sink_")
    try:
        out = os.path.join(d, "shards")
        man = write_training_shards(pk, out, n_shards=8)
        chk("chain sink manifest rows", man["total_rows"], pk_n)
        chk("chain sink readback rows",
            spark.read.parquet(out).count(), pk_n)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    rows.append(("chain", "sink", pk_n, 1, None, None, None))

    while live:
        _release_local_checkpoint(live.pop())
    return rows


def _q_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_stats over the prepared dup corpus (kind='corpus') + the
    composed corpus-chain accounting leg (kind='chain', one row per
    stage — see the block comment above)."""
    from .operators.pipeline import corpus_stats, prepare_training_corpus

    stats = corpus_stats(prepare_training_corpus(_dup_corpus(spark, sf_dir)))
    corpus_row = stats.select(
        F.lit("corpus").alias("kind"), F.lit("all").alias("stage"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.lit(None).cast("long").alias("metric"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("total_bpe_tokens").cast("long").alias("total_bpe_tokens"),
        F.col("total_chars").cast("long").alias("total_chars"))
    from .operators.localrel import local_relation

    chain = local_relation(
        spark, _chain_leg_rows(spark, sf_dir),
        "kind string, stage string, n_docs long, metric long, "
        "total_tokens long, total_bpe_tokens long, total_chars long")
    return corpus_row.unionByName(chain)


from .operators.pipeline import hash_split_sql as _split_sql  # noqa: E402
from .operators.pipeline import pack_sequences_sql as _pack_sql  # noqa: E402
from .operators.pipeline import prepare_training_corpus_sql as _pipe_sql  # noqa: E402
from .operators.pipeline import quota_rank_sql as _quota_sql  # noqa: E402


def _chain_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE composed chain from the same
    closed-form generation template (only the int->string cast
    spelling differs from the engine's F.expr)."""
    ids = "CAST(id AS VARCHAR)"
    nullcols = ("CAST(NULL AS BIGINT) AS total_tokens, "
                "CAST(NULL AS BIGINT) AS total_bpe_tokens, "
                "CAST(NULL AS BIGINT) AS total_chars")
    return f"""
WITH RECURSIVE
cbase AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
          FROM documents),
cgtx AS MATERIALIZED (SELECT id, {_chain_text_sql(ids)} AS text FROM cbase),
corp AS MATERIALIZED (
  SELECT id AS doc_id, text FROM cgtx
  UNION ALL
  SELECT id + {_CHAIN_C_OFF}, text FROM cgtx WHERE id % 7 = 3
  UNION ALL
  SELECT id + {_CHAIN_N_OFF}, text || ' q' || {ids} FROM cgtx
  WHERE id % 11 = 4
),
{_span_ctes('corp', n=_CHAIN_SPAN_N, min_df=_CHAIN_SPAN_MIN_DF,
            policy='all')},
spanout AS MATERIALIZED (SELECT doc_id, clean_text AS text, n_removed_words
            FROM clean),
exwin AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM spanout GROUP BY text),
exsur AS MATERIALIZED (SELECT s.doc_id, s.text FROM spanout s
          JOIN exwin USING (doc_id)),
cmh AS (SELECT doc_id, {_MH_HS} AS hs FROM exsur),
cmsig AS MATERIALIZED (SELECT doc_id, {_MH_SIG} AS sig FROM cmh),
cmbnd AS ({_minhash_band_sql(bands=8, r=4, src='cmsig')}),
cmbok AS (SELECT band, bucket FROM cmbnd GROUP BY band, bucket
          HAVING COUNT(*) <= 20),
cmbsm AS MATERIALIZED (SELECT b.doc_id, b.band, b.bucket FROM cmbnd b
          JOIN cmbok k ON b.band = k.band AND b.bucket = k.bucket),
cmp0 AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b
         FROM cmbsm a JOIN cmbsm b2
           ON a.band = b2.band AND a.bucket = b2.bucket
          AND a.doc_id < b2.doc_id GROUP BY 1, 2),
cmp AS MATERIALIZED (SELECT p.id_a, p.id_b FROM cmp0 p
        JOIN cmsig sa ON sa.doc_id = p.id_a
        JOIN cmsig sb ON sb.doc_id = p.id_b
        WHERE len(list_filter(range(1, 33),
                              i -> sa.sig[i] = sb.sig[i])) >= 10),
cmsh AS MATERIALIZED (SELECT doc_id, list_distinct([substr(text, i, 8)
           FOR i IN range(1, greatest(len(text) - 7, 1) + 1)]) AS s
         FROM exsur),
cmver AS (SELECT p.id_a, p.id_b FROM cmp p
          JOIN cmsh a ON a.doc_id = p.id_a
          JOIN cmsh b ON b.doc_id = p.id_b
          WHERE ROUND(len(list_intersect(a.s, b.s))::DOUBLE /
                (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))),
                6) >= 0.5),
cmedge AS (SELECT id_a AS a, id_b AS b FROM cmver
           UNION SELECT id_b, id_a FROM cmver),
cmreach(a, b) AS (
  SELECT a, b FROM cmedge
  UNION
  SELECT r.a, e.b FROM cmreach r JOIN cmedge e ON r.b = e.a
),
cmlose AS MATERIALIZED (SELECT a AS doc_id FROM cmreach GROUP BY a
           HAVING LEAST(a, MIN(b)) != a),
nearsur AS MATERIALIZED (SELECT e.doc_id, e.text FROM exsur e
            WHERE e.doc_id NOT IN (SELECT doc_id FROM cmlose)),
clmt AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
           AS tk FROM nearsur),
clmb AS (SELECT doc_id, tk[i] AS a, tk[i + 1] AS b
         FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
               FROM clmt WHERE len(tk) > 1)),
clmu AS MATERIALIZED (SELECT token, COUNT(*) AS c1 FROM (
           SELECT unnest(tk) AS token FROM clmt) GROUP BY token),
clmv AS (SELECT COUNT(*) AS v FROM clmu),
clmc AS MATERIALIZED (SELECT a, b, COUNT(*) AS c2 FROM clmb GROUP BY a, b
         HAVING COUNT(*) >= 2),
clms AS (
  SELECT clmb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(FLOOR(log10((COALESCE(clmc.c2, 0) + 1.0)
                        / (COALESCE(clmu.c1, 0) + 1.0 * clmv.v))
                        * 1000000) AS BIGINT)) AS BIGINT) AS lp_micro
  FROM clmb LEFT JOIN clmc ON clmc.a = clmb.a AND clmc.b = clmb.b
       LEFT JOIN clmu ON clmu.token = clmb.a
       CROSS JOIN clmv
  GROUP BY clmb.doc_id
),
lmkeep AS MATERIALIZED (SELECT n.doc_id, n.text FROM nearsur n
           LEFT JOIN clms s ON s.doc_id = n.doc_id
           WHERE COALESCE(s.lp_micro, 0)
                 >= {_CHAIN_LM_MICRO} * COALESCE(s.n_bigrams, 0)),
cbch AS MATERIALIZED (SELECT id AS doc_id, {_chain_plain_sql(ids)} AS text
         FROM cbase
         WHERE id % 17 = 5 AND id % 11 != 4 AND id % 13 != 6),
ccg AS MATERIALIZED (SELECT doc_id, list_distinct([
          array_to_string(toks[i : i + {_CHAIN_CONTAM_N - 1}], ' ')
          FOR i IN range(1, greatest(len(toks) - {_CHAIN_CONTAM_N - 1},
                                     1) + 1)]) AS grams
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\\s+')
                       AS toks FROM lmkeep)),
cbg AS MATERIALIZED (SELECT DISTINCT unnest(grams) AS gram FROM (
          SELECT doc_id, list_distinct([
            array_to_string(toks[i : i + {_CHAIN_CONTAM_N - 1}], ' ')
            FOR i IN range(1, greatest(len(toks)
                                       - {_CHAIN_CONTAM_N - 1}, 1)
                           + 1)]) AS grams
          FROM (SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+')
                         AS toks FROM cbch))),
chits AS (SELECT t.doc_id, COUNT(*) AS n
          FROM (SELECT doc_id, unnest(grams) AS gram FROM ccg) t
          JOIN cbg USING (gram) GROUP BY 1),
csur AS MATERIALIZED (SELECT l.doc_id, l.text FROM lmkeep l
         JOIN ccg g ON g.doc_id = l.doc_id
         LEFT JOIN chits h ON h.doc_id = l.doc_id
         WHERE ROUND(CAST(COALESCE(h.n, 0) AS DOUBLE)
               / GREATEST(len(g.grams), 1), 6) < {_CHAIN_CONTAM_T}),
cfin AS MATERIALIZED ({_pipe_sql(min_chars=40, max_digit_ratio=0.95, min_tokens=5,
                    table='csur')}),
csrc AS (SELECT doc_id, text,
         's' || CAST((doc_id % 4 + 4) % 4 AS VARCHAR) AS source
         FROM csur),
cper AS MATERIALIZED (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM csrc GROUP BY source),
cqv AS MATERIALIZED (SELECT GREATEST(1, (4 * MIN(n)) // 5) AS q
        FROM cper),
cqr AS (SELECT doc_id, text, source,
        {_quota_sql('source', seed=13)} AS qr FROM csrc),
cquota AS MATERIALIZED (SELECT doc_id, text, source FROM cqr, cqv
          WHERE qr <= q),
cqc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS kept FROM cquota
        GROUP BY source),
cmix AS MATERIALIZED (SELECT doc_id, text, source,
        {_split_sql(_CHAIN_SPLIT)} FROM cquota),
cpk AS MATERIALIZED (
  SELECT doc_id, source, split, n_bpe_tokens,
         {_pack_sql(512, group_col='split', tokens_col='n_bpe_tokens')}
  FROM cmix JOIN cfin USING (doc_id))
SELECT 'corpus' AS kind, 'all' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(NULL AS BIGINT) AS metric,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ({_pipe_sql(table=_DUP_SQL)})
UNION ALL
SELECT 'chain', 'input', CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS BIGINT), {nullcols} FROM corp
UNION ALL
SELECT 'chain', 'span', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(n_removed_words) AS BIGINT), {nullcols} FROM spanout
UNION ALL
SELECT 'chain', 'exact', CAST(COUNT(*) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM spanout)
         - CAST(COUNT(*) AS BIGINT), {nullcols} FROM exsur
UNION ALL
SELECT 'chain', 'near', CAST(COUNT(*) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM exsur)
         - CAST(COUNT(*) AS BIGINT), {nullcols} FROM nearsur
UNION ALL
SELECT 'chain', 'lm', CAST(COUNT(*) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM nearsur)
         - CAST(COUNT(*) AS BIGINT), {nullcols} FROM lmkeep
UNION ALL
SELECT 'chain', 'contam', CAST(COUNT(*) AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lmkeep)
         - CAST(COUNT(*) AS BIGINT), {nullcols} FROM csur
UNION ALL
SELECT 'chain', 'final', CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS BIGINT),
       CAST(SUM(n_tokens) AS BIGINT),
       CAST(SUM(n_bpe_tokens) AS BIGINT),
       CAST(SUM(n_chars) AS BIGINT)
FROM cfin
UNION ALL
SELECT 'chain', 'quota_' || source, kept, n - kept, {nullcols}
FROM cqc JOIN cper USING (source)
UNION ALL
SELECT 'chain', 'split_' || split, CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS BIGINT), {nullcols} FROM cmix GROUP BY split
UNION ALL
SELECT 'chain', 'pack', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(DISTINCT (split, seq_id)) AS BIGINT),
       CAST(NULL AS BIGINT),
       CAST(SUM(n_bpe_tokens) AS BIGINT), CAST(NULL AS BIGINT) FROM cpk
UNION ALL
SELECT 'chain', 'sink', CAST(COUNT(*) AS BIGINT),
       CAST(1 AS BIGINT), {nullcols} FROM cpk
"""


# sink_ok is the sink round-trip verdict (1 for every row unless the
# sink lost/duplicated/misplaced/corrupted it — see _q_pipeline)
_register("pipeline_prepare_corpus", _q_pipeline,
          f"SELECT p.*, 1 AS sink_ok FROM ({_pipe_sql(table=_DUP_SQL)}) p")
# (pipeline_corpus_stats is registered AFTER the minhash oracle parts
# below — _chain_oracle_sql composes _MH_HS/_MH_SIG/_minhash_band_sql)


def _q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both embedding_near_dup_pairs modes — the oracle-exact all-pairs
    form AND the hyperplane-LSH scale path — union-gated in one row set
    (a ``mode`` tag keeps the two candidate sets distinct)."""
    from .operators import embedding_near_dup_pairs

    emb = get_tables(spark, sf_dir)["embeddings"]
    exact = (embedding_near_dup_pairs(emb, threshold=0.3, exact=True)
             .withColumn("mode", F.lit("exact")))
    lsh = (embedding_near_dup_pairs(emb, threshold=0.3, planes=8)
           .withColumn("mode", F.lit("lsh")))
    return exact.unionByName(lsh)


_NEAR_DUP_EXACT_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
"""


def _hyperplane_sig_parts(planes: int = 8, dim: int = 64,
                          seed: int = 23) -> tuple[str, str, str]:
    """(H-CTE select list, sig expression, dots-list expression — all
    over a DOUBLE[] column ``v``) — the shared DuckDB twin of the
    random-hyperplane signature: the hyperplanes are SEEDED, so they
    embed as the same float literals the Spark plan carries, and the
    sign fold is written as the textually identical left-to-right sum
    (list_reduce mirrors F.aggregate) so the sign bits agree
    bit-for-bit.  The dots list feeds the multi-probe oracle's margin
    ranking."""
    import numpy as np

    H = np.random.default_rng(seed).standard_normal((planes, dim))
    harrs = ", ".join(
        "[" + ", ".join(repr(float(x)) for x in H[p]) + f"] AS h{p}"
        for p in range(planes)
    )

    def dot(h: str) -> str:
        return (
            "list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, len(v) + 1), i -> v[i] * {h}[i])), "
            "(acc, z) -> acc + z)"
        )

    # the isnan guard pins NaN-element vectors to the engine's '0'
    # bit (numpy NaN >= 0 is False; bare SQL NaN >= 0 is TRUE in both
    # DuckDB and Spark — see operators.similarity._sign_bit)
    sig = "concat(" + ", ".join(
        f"CASE WHEN isnan({dot(f'h{p}')}) THEN '0' "
        f"WHEN {dot(f'h{p}')} >= 0 THEN '1' ELSE '0' END"
        for p in range(planes)
    ) + ")"
    dots = "[" + ", ".join(dot(f"h{p}") for p in range(planes)) + "]"
    return harrs, sig, dots


def _near_dup_lsh_oracle(planes: int = 8, dim: int = 64, seed: int = 23,
                         threshold: float = 0.3) -> str:
    """DuckDB twin of the in-query hyperplane-LSH near-dup self-join
    (see :func:`_hyperplane_sig_parts` for the bit-agreement
    contract)."""
    harrs, sig, _ = _hyperplane_sig_parts(planes, dim, seed)
    return f"""
WITH H AS (SELECT {harrs}),
b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {sig} AS sig
      FROM embeddings, H)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b2.v), 6) AS cos_sim
FROM b a JOIN b b2 ON a.sig = b2.sig AND a.vec_id < b2.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b2.v), 6) >= {threshold}
"""


_register(
    "embedding_near_dup",
    _q_near_dup,
    f"SELECT id_a, id_b, cos_sim, 'exact' AS mode "
    f"FROM ({_NEAR_DUP_EXACT_SQL}) "
    f"UNION ALL "
    f"SELECT id_a, id_b, cos_sim, 'lsh' AS mode "
    f"FROM ({_near_dup_lsh_oracle()})",
)


_EMB_SIG_CACHE: dict = {}
# (app, sf_dir) pairs whose vec_id-offset preflight already ran —
# the max(vec_id) aggregation is a real job, so run it once/session
_EMB_MAXCHECK_CACHE: set = set()
# nightly-batch id offset for the embedding gate (re-crawls at +OFF,
# negated editions at +2*OFF) — far above any sf's sparse vec_ids
_EMB_OFF = 1_000_000_000_000


def _q_embedding_dedup_pipeline(spark: SparkSession, sf_dir: str,
                                include_stream: bool = True) -> DataFrame:
    """The text flagship's shape on the EMBEDDING modality, both
    corpus-local and cross-run, union-gated under a ``kind`` tag
    (mirroring ``dedup_incremental``'s text twin):

    * ``kind='cluster'`` — hyperplane-LSH near-dup pairs (the scale
      path: bucketed sign-signature equi-join, no cross join) ->
      connected-component clustering; n = the group's canonical
      (min-id) vector.
    * ``kind='incremental'`` — the PERSISTED cross-run gate: the seen
      corpus's hyperplane band rows are written ONCE per session via
      write_embedding_signature_table (bucketed on (rep, sig),
      write-time max_bucket cap, __params sidecar), and a synthetic
      nightly batch (exact re-crawls of every seen vector + a negated
      edition of each) probes it by NAME through
      embedding_dedup_incremental; n = how many seen vectors each new
      vector near-duplicates after the exact-cosine verify (0 =
      genuinely fresh — every negated vector, unless the corpus holds
      a diametrically opposed pair).  The candidate join reads the
      seen side co-located with no exchange (plan-asserted in
      tests/test_plans.py).
    """
    from .operators import (
        dedup_clusters,
        embedding_dedup_incremental,
        embedding_near_dup_pairs,
    )

    emb, emb_tbl, new = _emb_gate_inputs(spark, sf_dir)

    def _cluster_leg():
        pairs = embedding_near_dup_pairs(emb, threshold=0.3, planes=8)
        return dedup_clusters(pairs).select(
            F.lit("cluster").alias("kind"),
            F.col("doc_id").alias("vec_id"),
            F.col("cluster_id").alias("n"),
        )

    # kind='incremental' + kind='probe' from ONE banded join
    # (round-15, guide §1.2): the probe leg (probes=1 — each new
    # vector also joins under its lowest-margin bit-flip signature,
    # gating the flip ranking/string arithmetic cross-engine) emits a
    # candidate superset of the unprobed leg, so base_counts=True
    # returns both counts from a single banding + seen-table join —
    # n_matched_seen_base is exactly what the probes=0 call produced
    # (a pair's min __probe is 0 iff base signatures collide).  The
    # counts table is ~|batch| rows of three longs and two union
    # branches project different columns from it — materialize it once
    # (no cross-branch CSE in Catalyst once pruning diverges them).
    # Small batches land it LOCALLY via one Arrow collect (the
    # dedup_clusters small-graph posture): identical rows, and no
    # pinned RDD outlives the invocation — the previous
    # localCheckpoint leaked one checkpointed RDD per call (round-15
    # leak audit).  A big batch keeps the distributed checkpoint.
    def _counts_leg():
        both = embedding_dedup_incremental(new, emb_tbl,
                                           threshold=0.3, probes=1,
                                           base_counts=True)
        from .operators.similarity import _embedding_probe

        # memoized — the incremental gate's guards already probed new
        if _embedding_probe(new, "embedding")[1] <= 2_000_000:
            return _land_local(spark, both)
        return both.localCheckpoint()

    # cluster collect and the fused-counts collect are independent
    # eager barriers — overlap them from two driver threads (guide
    # §2.6, the dedup_incremental/dedup_exact_stats pattern; each
    # leg's plan is unchanged)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cl, f_ct = pool.submit(_cluster_leg), pool.submit(_counts_leg)
        clusters, both = f_cl.result(), f_ct.result()
    inc = both.select("vec_id", F.col("n_matched_seen_base")
                      .alias("n_matched_seen"))
    prb = both.select("vec_id", "n_matched_seen")
    # kind='stream' (round-10, closes round-9 VERDICT missing #1): the
    # SAME nightly batch replayed as an availableNow file stream
    # through streaming_embedding_candidates(seen_table=...) — the
    # restarted-stream contract on the EMBEDDING modality (the text
    # twin is streaming_replay_invariants kind='probe'): the stream's
    # in-memory bucket anchors are gone, but the persisted-table probe
    # must still pair every re-arrival with its stored near-dups.
    # Per-vector distinct-seen counts are hash-gated against the SAME
    # oracle chain as kind='incremental' (stream == batch == DuckDB) —
    # strictly stronger than the pytest harness' stream==batch check
    # (tests/test_streaming.py::
    # test_streaming_embedding_probe_matches_incremental).
    out = clusters.unionByName(inc.select(
        F.lit("incremental").alias("kind"), "vec_id",
        F.col("n_matched_seen").alias("n"),
    )).unionByName(prb.select(
        F.lit("probe").alias("kind"), "vec_id",
        F.col("n_matched_seen").alias("n"),
    ))
    # include_stream=False is the BENCH-ONLY variant (round-10 VERDICT
    # #3): the correctness row always runs all four kinds under one
    # oracle chain, but the stream replay is ~6-7 s of FIXED streaming
    # machinery per rep that made the batch-pipeline trend line
    # non-comparable across rounds — bench.py times the batch legs
    # here and the replay separately (see BENCH_EXTRAS).
    if include_stream:
        out = out.unionByName(
            _embedding_stream_leg(spark, new, emb_tbl))
    return out


def _emb_gate_inputs(spark: SparkSession, sf_dir: str):
    """Shared setup for the embedding gate's legs: the seen corpus,
    its once-per-session persisted signature table, and the synthetic
    nightly batch (exact re-crawls at +_EMB_OFF + negated editions at
    +2*_EMB_OFF).

    Batch ids must sit ABOVE every seen id (the dedup_incremental
    precedent): sf1's embeddings carry SPARSE vec_ids up to 9e7, so
    the old +100000/+200000 offsets collided with real ids — the
    symmetric incremental/probe legs still hash-matched (engine and
    oracle collide identically), but the round-10 stream leg
    classifies probe anchors BY ID RANGE and misfired (caught by the
    sf1 audit).  1e12 clears any plausible sf; raise loudly if a
    future sf outgrows it.  Checked ONCE per (app, sf_dir) — the
    preflight is a full aggregation job — and an EMPTY table passes
    (max None -> 0: a vacuous pipeline is a valid degenerate input,
    round-10 ADVICE)."""
    from .operators import write_embedding_signature_table

    emb = get_tables(spark, sf_dir)["embeddings"]
    key = (spark.sparkContext.applicationId, sf_dir)
    emb_tbl = _session_table(
        _EMB_SIG_CACHE, key, "dhs_emb_sigs",
        lambda tbl, path: write_embedding_signature_table(
            emb, tbl, planes=8, seed=23, repetitions=1,
            max_bucket=64, n_buckets=16, path=path))
    if key not in _EMB_MAXCHECK_CACHE:
        max_vec = emb.agg(F.max("vec_id")).first()[0] or 0
        if max_vec >= _EMB_OFF:
            raise ValueError(
                f"embedding gate: max vec_id {max_vec} >= offset "
                f"{_EMB_OFF}; raise _EMB_OFF (and its oracle literals)")
        _EMB_MAXCHECK_CACHE.add(key)
    new = emb.select(
        (F.col("vec_id") + F.lit(_EMB_OFF)).alias("vec_id"),
        "embedding"
    ).unionByName(emb.select(
        (F.col("vec_id") + F.lit(2 * _EMB_OFF)).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    ))
    return emb, emb_tbl, new


def _embedding_stream_leg(spark: SparkSession, new: DataFrame,
                          emb_tbl: str) -> DataFrame:
    """kind='stream' leg body (see _q_embedding_dedup_pipeline's
    docstring): the nightly batch replayed as an availableNow file
    stream against the persisted signature table; per-vector
    distinct-seen counts."""
    from .streaming import streaming_embedding_candidates

    pairs_s = _stream_replay(
        spark, new,
        lambda s: streaming_embedding_candidates(
            s, seen_table=emb_tbl, threshold=0.3))
    got: dict = {}
    for a, b in pairs_s:
        if a < _EMB_OFF:  # probe rows anchor on a SEEN id
            got.setdefault(int(b), set()).add(int(a))
    from .operators.localrel import local_relation

    counts = local_relation(
        spark,
        [(v, len(s)) for v, s in got.items()] or [(-1, 0)],
        "vec_id long, n long")
    return (new.select("vec_id").join(counts, "vec_id", "left")
            .select(F.lit("stream").alias("kind"), "vec_id",
                    F.coalesce("n", F.lit(0)).alias("n")))


def _embedding_dedup_pipeline_oracle() -> str:
    """cluster kind: the hyperplane pair join + recursive transitive
    closure (unchanged).  incremental kind: the full hyperplane
    banding on BOTH corpora with the same seeded literals, seen
    buckets capped at 64 like the written signature table, candidate
    equi-join on the signature, exact-cosine >= 0.3 verify, per-new-
    vector match counts with 0 for fresh vectors.  probe kind: the
    batch side additionally joins under its lowest-margin bit-flip
    signature — the margin sort is coalesce(abs(dot), infinity) with
    list_position-of-min first-occurrence tie-break, matching the
    engine's stable argsort (NaN-last) exactly, and the flip is
    substr string surgery on the base signature."""
    harrs, sig, dots = _hyperplane_sig_parts(planes=8, dim=64, seed=23)
    absd = f"list_transform({dots}, x -> coalesce(abs(x), 'infinity'::DOUBLE))"
    return f"""
WITH RECURSIVE pr AS ({_near_dup_lsh_oracle()}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pr
  UNION SELECT id_b AS a, id_a AS b FROM pr
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clus AS (
  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
),
Hn AS (SELECT {harrs}),
nw AS (
  SELECT vec_id + 1000000000000 AS vec_id,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 2000000000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> -x) AS v
  FROM embeddings
),
seen AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, {sig} AS sig
         FROM embeddings, Hn),
bok AS (SELECT sig FROM seen GROUP BY sig HAVING COUNT(*) <= 64),
sk AS (SELECT s.vec_id, s.v, s.sig FROM seen s JOIN bok USING (sig)),
nb AS (SELECT vec_id, v, {sig} AS sig FROM nw, Hn),
m AS (
  SELECT nb.vec_id, COUNT(*) AS n
  FROM nb JOIN sk ON nb.sig = sk.sig
  WHERE ROUND(list_cosine_similarity(nb.v, sk.v), 6) >= 0.3
  GROUP BY nb.vec_id
),
nbp AS (
  SELECT vec_id, v, sig,
         substr(sig, 1, fi - 1)
         || (CASE WHEN substr(sig, fi, 1) = '1' THEN '0' ELSE '1' END)
         || substr(sig, fi + 1) AS psig
  FROM (SELECT vec_id, v, {sig} AS sig,
               list_position({absd}, list_min({absd})) AS fi
        FROM nw, Hn)
),
nbu AS (
  SELECT vec_id, v, UNNEST([sig, psig]) AS sig FROM nbp
),
mp AS (
  SELECT nbu.vec_id, COUNT(DISTINCT sk.vec_id) AS n
  FROM nbu JOIN sk ON nbu.sig = sk.sig
  WHERE ROUND(list_cosine_similarity(nbu.v, sk.v), 6) >= 0.3
  GROUP BY nbu.vec_id
)
SELECT 'cluster' AS kind, vec_id, cluster_id AS n FROM clus
UNION ALL
SELECT 'incremental' AS kind, nw.vec_id, COALESCE(m.n, 0) AS n
FROM nw LEFT JOIN m USING (vec_id)
UNION ALL
SELECT 'probe' AS kind, nw.vec_id, COALESCE(mp.n, 0) AS n
FROM nw LEFT JOIN mp USING (vec_id)
UNION ALL
SELECT 'stream' AS kind, nw.vec_id, COALESCE(m.n, 0) AS n
FROM nw LEFT JOIN m USING (vec_id)
"""


_register(
    "embedding_dedup_pipeline",
    _q_embedding_dedup_pipeline,
    _embedding_dedup_pipeline_oracle(),
)


# DuckDB twin of the portable FNV-1a 32 hash over a string `t`'s code
# points (used by fingerprint and the minhash shingle hash, both with
# hash_fn="fnv1a32").  list_reduce uses the first element as the
# accumulator seed, hence the list_prepend of the fold's init.
_FNV_TOKEN = (
    "list_reduce("
    "list_prepend(CAST(2166136261 AS BIGINT), "
    "[CAST(ascii(substr(t, i, 1)) AS BIGINT) "
    "FOR i IN range(1, greatest(len(t), 1) + 1)]), "
    "(acc, c) -> (xor(acc, c) * 16777619) % 4294967296)"
)


def _q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import minhash_signatures

    sigs = minhash_signatures(get_tables(spark, sf_dir)["documents"],
                              num_perm=32, hash_fn="fnv1a32")
    # exploded to scalars so the oracle compare never hashes an array
    # column's string repr
    return sigs.select("doc_id", F.posexplode("sig").alias("perm", "minhash"))


def _minhash_oracle_parts(num_perm: int, shingle_k: int = 5,
                          seed: int = 17) -> tuple[str, str]:
    """(hs_expr, sig_expr) DuckDB twins of minhash_signatures(
    hash_fn='fnv1a32'): FNV-1a shingle hashes, then per-permutation
    (a_j*(h mod M31) + b_j) mod M31 minima with the SAME seeded
    coefficients the Spark operator embeds."""
    from .operators.dedup import _MERSENNE31, _perm_coeffs

    hs = (
        "list_transform(list_distinct([substr(text, i, "
        f"{shingle_k}) FOR i IN range(1, greatest(len(text) - {shingle_k - 1}, 1)"
        f" + 1)]), t -> {_FNV_TOKEN})"
    )
    # (h % M31) * a + b < 2^62 + 2^31: exact BIGINT, same as the engine
    sig = "[" + ", ".join(
        f"list_min(list_transform(hs, h -> "
        f"((h % {_MERSENNE31}) * {a} + {b}) % {_MERSENNE31}))"
        for a, b in _perm_coeffs(num_perm, seed)
    ) + "]"
    return hs, sig


_MH_HS, _MH_SIG = _minhash_oracle_parts(num_perm=32)

_register(
    "minhash_signatures",
    _q_minhash_sigs,
    f"WITH h AS (SELECT doc_id, {_MH_HS} AS hs FROM documents), "
    f"s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h) "
    "SELECT doc_id, UNNEST(range(32)) AS perm, UNNEST(sig) AS minhash FROM s",
)


def _minhash_band_sql(bands: int, r: int, src: str = "s") -> str:
    """Band keys as raw value strings (1-based DuckDB list indexing),
    zip-unnested with the band number.  ``src`` names the signature
    CTE to read from — parameterized so callers banding a SECOND
    corpus (the incremental oracle's new batch) don't resort to
    textual surgery on the FROM clause."""
    keys = ", ".join(
        "concat_ws(','" + "".join(
            f", sig[{b * r + j + 1}]" for j in range(r)
        ) + ")"
        for b in range(bands)
    )
    return (
        f"SELECT doc_id, UNNEST(range({bands})) AS band, "
        f"UNNEST([{keys}]) AS bucket FROM {src}"
    )


# deferred registration (see the placeholder note at the chain leg):
# the chain oracle composes the minhash parts defined just above
_register("pipeline_corpus_stats", _q_pipeline_stats, _chain_oracle_sql())

_MINHASH_CAND_SQL = (
    f"WITH h AS (SELECT doc_id, {_MH_HS} AS hs FROM {_DUP_SQL}), "
    f"s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h), "
    f"b AS ({_minhash_band_sql(bands=8, r=4)}) "
    "SELECT a.doc_id AS id_a, b2.doc_id AS id_b, COUNT(*) AS n_bands "
    "FROM b a JOIN b b2 ON a.band = b2.band AND a.bucket = b2.bucket "
    "AND a.doc_id < b2.doc_id GROUP BY 1, 2"
)

# (minhash_lsh_candidates' full rows are differentially tested against
# this SQL and its capped/gated variants in the test suite, and gated
# end-to-end through dedup_pipeline below.)

_register("dedup_pipeline", _q_dedup_pipeline, _dedup_pipeline_oracle())


def _inc_lsh_ctes() -> str:
    """CTE chain shared by the dedup_incremental oracle and the
    streaming probe-replay leg: the +1e9/+2e9 batch construction
    (``nw``), the full fnv1a32 minhash pipeline on BOTH corpora (same
    seeded coefficient literals as the Spark operator), seen band
    buckets capped at 64 like the written signature table, candidate
    equi-join, 24/32 agreement gate (``gated``), per-new-doc counts
    (``cnt``)."""
    seen_band = _minhash_band_sql(bands=8, r=4)
    new_band = _minhash_band_sql(bands=8, r=4, src="s2")
    return f"""nw AS (
  SELECT doc_id + 1000000000 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000000 AS doc_id, text || ' (rev2)' AS text
  FROM documents
),
h AS (SELECT doc_id, {_MH_HS} AS hs FROM documents),
s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h),
bnd_seen AS ({seen_band}),
bok AS (
  SELECT band, bucket FROM bnd_seen GROUP BY band, bucket
  HAVING COUNT(*) <= 64
),
bseen AS (
  SELECT b.doc_id, b.band, b.bucket
  FROM bnd_seen b JOIN bok k ON b.band = k.band AND b.bucket = k.bucket
),
h2 AS (SELECT doc_id, {_MH_HS} AS hs FROM nw),
s2 AS (SELECT doc_id, {_MH_SIG} AS sig FROM h2),
bnd_new AS ({new_band}),
cand AS (
  SELECT n.doc_id AS new_id, sn.doc_id AS seen_id
  FROM bnd_new n JOIN bseen sn
    ON n.band = sn.band AND n.bucket = sn.bucket
  GROUP BY 1, 2
),
gated AS (
  SELECT c.new_id, c.seen_id FROM cand c
  JOIN s2 sa ON sa.doc_id = c.new_id
  JOIN s sb ON sb.doc_id = c.seen_id
  WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) >= 24
),
cnt AS (SELECT new_id, COUNT(*) AS n FROM gated GROUP BY new_id)"""


def _dedup_incremental_oracle() -> str:
    """Exact kind: plain NOT IN anti-join.  LSH kind: the shared
    :func:`_inc_lsh_ctes` chain, per-new-doc match counts with 0 for
    fresh docs.  Span kind: the full window/rank/removal chain
    (_span_ctes) over seen UNION batch, batch rows' removed-word
    counts — the incremental probe of the persisted gram table must
    equal batch semantics exactly."""
    return f"""
WITH {_inc_lsh_ctes()},
combined AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM nw
), {_span_ctes('combined')}
SELECT 'exact' AS kind, MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n
FROM nw WHERE text NOT IN (SELECT text FROM documents)
GROUP BY text
UNION ALL
SELECT 'lsh' AS kind, nw.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM nw LEFT JOIN cnt c ON c.new_id = nw.doc_id
UNION ALL
SELECT 'span' AS kind, cl.doc_id, cl.n_removed_words AS n
FROM clean cl JOIN nw USING (doc_id)
"""


_register("dedup_incremental", _q_dedup_incremental,
          _dedup_incremental_oracle())


_LSH_STATS_MAX_BUCKET = 64


def _q_minhash_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof LSH profile row (round 5; was the uncapped self-join
    through round 4, whose one mega-bucket — 2,290 docs at sf0.1 —
    generated ~2.6M pairs in a single task, 9.25 s in BENCH_r04):
    ``sum_bands`` comes from per-bucket arithmetic (Σ C(n_b, 2), no
    join, exact for the FULL uncapped distribution), and only the
    distinct-pair count expands pairs, under the production
    ``max_bucket`` guard, with the capped-away mass reported.

    The operator runs one plan in one collect (the bucket statistics
    fold into the distinct-pair aggregate) and returns a one-row
    local relation; nothing is cached or checkpointed, so there is no
    cache lifetime to manage here."""
    from .operators import minhash_lsh_stats

    return minhash_lsh_stats(_dup_corpus(spark, sf_dir), num_perm=32,
                             bands=8, hash_fn="fnv1a32",
                             max_bucket=_LSH_STATS_MAX_BUCKET)


_register(
    "minhash_lsh_stats",
    _q_minhash_stats,
    # BIGINT casts: DuckDB SUM/COUNT land in pandas as float64/HUGEINT
    f"""
WITH h AS (SELECT doc_id, {_MH_HS} AS hs FROM {_DUP_SQL}),
s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h),
b AS ({_minhash_band_sql(bands=8, r=4)}),
sz AS (SELECT band, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2),
stats AS (
  SELECT CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS sum_bands,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(MAX(n) AS BIGINT) AS max_bucket_size,
         CAST(SUM(CASE WHEN n > {_LSH_STATS_MAX_BUCKET} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_capped_buckets
  FROM sz),
ok AS (SELECT band, bucket FROM sz WHERE n <= {_LSH_STATS_MAX_BUCKET}),
bs AS (SELECT b.doc_id, b.band, b.bucket
       FROM b JOIN ok ON b.band = ok.band AND b.bucket = ok.bucket),
p AS (SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bs a JOIN bs b2
        ON a.band = b2.band AND a.bucket = b2.bucket
       AND a.doc_id < b2.doc_id)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs_capped,
       stats.* FROM stats
""",
)


def _q_streaming_minhash_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the STREAMING LSH detector (streaming/dedup.py):
    replay the dup corpus as a bounded multi-file stream
    (availableNow), run the stateful anchor-star detector, and check
    the deterministic component-recall invariant — every batch
    candidate pair's endpoints share a bucket, all of a bucket's
    members link to its anchor, so the streaming pair graph must
    connect BOTH endpoints of EVERY batch candidate pair regardless of
    arrival order (same argument as
    tests/test_streaming.py::test_streaming_minhash_matches_batch_twin).

    Returns ONE deterministic row (n_batch_pairs, n_uncovered=0); the
    oracle recomputes n_batch_pairs from the seeded-minhash SQL twin.
    The streaming pair SET itself is arrival-order-dependent (anchor =
    first seen), hence not directly hashable — the component invariant
    is the strongest order-free contract.
    """
    from .operators import minhash_lsh_candidates
    from .streaming import streaming_minhash_candidates

    corpus = _dup_corpus(spark, sf_dir).select("doc_id", "text")
    stream_pairs = _stream_replay(
        spark, corpus,
        lambda s: streaming_minhash_candidates(s, num_perm=32, bands=8,
                                               hash_fn="fnv1a32"),
    )
    cands = minhash_lsh_candidates(corpus, num_perm=32, bands=8,
                                   hash_fn="fnv1a32")
    batch_pairs = [
        (r.id_a, r.id_b) for r in cands.select("id_a", "id_b").collect()
    ]
    return _coverage_row(spark, stream_pairs, batch_pairs)


def _replay_state_width(spark: SparkSession, corpus: DataFrame,
                        n_batches: int = 2) -> int:
    """Stateful-shuffle width for a replay's micro-batches, derived
    from the replayed corpus's size (guide §2.2) instead of the
    session-wide ``spark.sql.shuffle.partitions``: one partition per
    ~500 micro-batch rows, floored at 4 and capped at the session's
    parallelism.  A stateful operator instantiates and commits one
    state store PER shuffle partition PER micro-batch, so at bench
    scale (a few thousand rows per batch) the session's 32 partitions
    were pure fixed cost — measured addBatch 2.4 -> 1.2 s at width 8
    with byte-identical consumed output (the anchors/coverage/max
    consumers are partitioning-invariant); at production volume the
    cap restores the full width.  The row probe is memoized per
    (session, plan)."""
    from .operators.sizing import memoized_probe

    n_rows = memoized_probe(corpus, ("replay_rows",),
                            lambda: (corpus.count(),))[0]
    per_batch = max(1, n_rows // max(1, n_batches))
    return max(4, min(spark.sparkContext.defaultParallelism,
                      (per_batch + 499) // 500))


def _replay_source_dir(spark: SparkSession, corpus: DataFrame) -> str:
    """The replay's parquet SOURCE directory, written once per
    (session, corpus plan) — the session-table pattern: the nightly
    batch ARRIVES as files in production, so writing them is input
    staging, not part of the replay being measured; re-materializing
    the identical 6-file source per invocation cost ~0.35 s/rep
    (round-15).  The checkpoint, state stores, and memory sink stay
    per-invocation.  Deterministic corpus -> identical files; an
    in-place rewrite of the underlying table follows the probe memo's
    clear_probe_memo contract like every other guard."""
    import atexit
    import shutil
    import tempfile

    from .operators.sizing import memoized_probe

    def _write() -> str:
        d = tempfile.mkdtemp(prefix="dhs_stream_replay_")
        corpus.repartition(6).write.mode("overwrite").parquet(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d

    return memoized_probe(corpus, ("stream_replay_src",), _write)


def _stream_replay(spark: SparkSession, corpus: DataFrame,
                   build) -> list[tuple]:
    """Run ``corpus`` (staged as a multi-file parquet stream source)
    through ``build(stream)`` into an availableNow memory sink, and
    return the collected (id_a, id_b) rows."""
    import uuid

    d = _replay_source_dir(spark, corpus)
    name = "dhs_replay_" + uuid.uuid4().hex[:8]
    width = _replay_state_width(spark, corpus)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # conf applies at micro-batch planning (between start and
        # termination); restored in the finally
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        # 3 files/trigger -> TWO micro-batches: the replay rows gate
        # batch-split-invariant contracts (coverage/count invariants,
        # monotone update aggregation), so two batches exercise the
        # cross-micro-batch property at one less availableNow commit +
        # per-batch replan (~1.2 s each, round-6 ladder); the per-file
        # 6-batch deep coverage lives in tests/test_streaming.py
        stream = spark.readStream.schema(corpus.schema).option(
            "maxFilesPerTrigger", 3
        ).parquet(d)
        q = (
            build(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(f"streaming replay {name} timed out; "
                               "refusing to read a partial sink")
        return [
            (r.id_a, r.id_b)
            for r in spark.table(name).select("id_a", "id_b").collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.catalog.dropTempView(name)
        # the memoized source dir outlives the call (atexit-cleaned);
        # the checkpoint/state dirs are Spark-managed temp


def _coverage_row(spark: SparkSession, stream_pairs: list[tuple],
                  batch_pairs: list[tuple]) -> DataFrame:
    """Union-find over the streaming pair graph; count batch pairs whose
    endpoints it fails to connect (deterministically 0 — see the
    replay-row docstrings)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in stream_pairs:
        parent[find(a)] = find(b)
    uncovered = sum(1 for a, b in batch_pairs if find(a) != find(b))
    from .operators.localrel import local_relation

    return local_relation(
        spark,
        [(len(batch_pairs), uncovered)],
        "n_batch_pairs bigint, n_uncovered bigint",
    )


# (registered through the merged streaming_replay_invariants row below)


def _q_streaming_dedup_exact_replay(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Driver gate for the STREAMING exact-dedup operator: replay the
    dup corpus as a bounded file stream and check the first-arrival-
    wins contract — exactly ONE winner per distinct text across
    micro-batches, regardless of arrival order.  Which doc wins is
    order-dependent; (n_winners, n_distinct_hashes) is deterministic
    and equals the corpus's distinct-text count (xxhash64 collisions at
    oracle SF: ~n^2/2^64, ignorable)."""
    from .streaming import streaming_dedup_exact

    corpus = _dup_corpus(spark, sf_dir).select("doc_id", "text")
    winners = _stream_replay(
        spark,
        corpus,
        lambda s: streaming_dedup_exact(s).select(
            F.col("doc_id").alias("id_a"),
            F.col("content_hash").alias("id_b"),
        ),
    )
    hashes = [b for _, b in winners]
    from .operators.localrel import local_relation

    return local_relation(
        spark,
        [(len(winners), len(set(hashes)))],
        "n_winners bigint, n_distinct_hashes bigint",
    )


# (registered through the merged streaming_replay_invariants row below)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import simhash_candidates

    return simhash_candidates(_dup_corpus(spark, sf_dir), max_hamming=3,
                              hash_fn="fnv1a32")


# DuckDB twin of the 32-bit portable simhash: per-token FNV-1a hashes,
# majority vote per bit (ones*2 >= n, exactly the numpy fold's rule),
# pigeonhole banding into 4 8-bit chunks, exact Hamming filter.
_register(
    "simhash_candidates",
    _q_simhash,
    f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS t
  FROM {_DUP_SQL}
), h AS (
  SELECT doc_id, {_FNV_TOKEN} AS th FROM tok
), bits AS (
  SELECT doc_id, b.b, SUM((th >> b.b) & 1) AS ones, COUNT(*) AS n
  FROM h, (SELECT UNNEST(range(32)) AS b) b GROUP BY 1, 2
), sig AS (
  SELECT doc_id,
         SUM(CASE WHEN ones * 2 >= n THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
           AS s
  FROM bits GROUP BY 1
), chunk AS (
  SELECT doc_id, c.c, (s >> (c.c * 8)) & 255 AS cv
  FROM sig, (SELECT UNNEST(range(4)) AS c) c
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM chunk a JOIN chunk b
    ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sa.s, sb.s)) AS hamming
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE bit_count(xor(sa.s, sb.s)) <= 3
""",
)


def _q_streaming_simhash_replay(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Driver gate for the STREAMING SimHash detector: same
    component-recall invariant as :func:`_q_streaming_minhash_replay`
    over chunk buckets — every batch candidate pair (the
    Hamming-verified set is a subset of the bucket relation) shares a
    chunk bucket, so the streaming anchor-star graph connects both of
    its endpoints deterministically."""
    from .operators import simhash_candidates
    from .streaming import streaming_simhash_candidates

    corpus = _dup_corpus(spark, sf_dir).select("doc_id", "text")
    stream_pairs = _stream_replay(
        spark, corpus,
        lambda s: streaming_simhash_candidates(s, max_hamming=3,
                                               hash_fn="fnv1a32"),
    )
    batch_pairs = [
        (r.id_a, r.id_b)
        for r in simhash_candidates(corpus, max_hamming=3,
                                    hash_fn="fnv1a32")
        .select("id_a", "id_b").collect()
    ]
    return _coverage_row(spark, stream_pairs, batch_pairs)


def _q_streaming_probe_replay(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Driver gate for the RESTARTED-STREAM persisted-table probe
    (round-8 VERDICT #4; streaming/dedup.py seen_table bridge): the
    dedup_incremental batch (+1e9 re-crawls, +2e9 revisions) is
    replayed as an availableNow file stream through
    ``streaming_minhash_candidates(seen_table=...)`` — a stream whose
    in-memory bucket anchors are GONE but whose persisted corpus
    probe must still pair every re-arrival with its stored
    near-duplicates.  For every streamed doc, the distinct SEEN ids
    it pairs with must equal ``dedup_incremental_lsh``'s
    n_matched_seen under the same 24/32 gate (the pytest harness'
    invariant, test_streaming.py::test_streaming_probe_matches_...,
    now driver-visible).  Returns (n_primary = total gated
    (new, seen) pairs — oracle-recomputable from the shared
    _inc_lsh_ctes chain; n_check = stream-vs-batch mismatched docs,
    deterministically 0)."""
    from .operators import dedup_incremental_lsh, write_signature_table

    seen = get_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    new = seen.select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
    ).unionByName(seen.select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" (rev2)")).alias("text"),
    ))
    key = (spark.sparkContext.applicationId, sf_dir)
    sig_tbl = _session_table(
        _INC_SIG_CACHE, key, "dhs_seen_sigs",
        lambda tbl, path: write_signature_table(
            seen, tbl, num_perm=32, bands=8, hash_fn="fnv1a32",
            max_bucket=64, n_buckets=16, path=path))

    from .streaming import streaming_minhash_candidates

    pairs = _stream_replay(
        spark, new,
        lambda s: streaming_minhash_candidates(
            s, seen_table=sig_tbl, min_sig_matches=24))
    got: dict = {}
    for a, b in pairs:
        if a < 1_000_000_000:  # seen-corpus anchor => probe hit
            got.setdefault(b, set()).add(a)
    batch = {r["doc_id"]: r["n_matched_seen"]
             for r in dedup_incremental_lsh(
                 new, sig_tbl, min_sig_matches=24).collect()}
    n_primary = sum(batch.values())
    n_check = sum(1 for d, n in batch.items()
                  if len(got.get(d, ())) != n)
    from .operators.localrel import local_relation

    return local_relation(
        spark, [(n_primary, n_check)],
        "n_primary bigint, n_check bigint")


def _q_streaming_replays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL the streaming dedup detectors gated in ONE driver row
    (registry consolidated to the driver's 50-row budget, COVERAGE.md
    round-5 table): each availableNow file-stream replay runs in full
    and contributes one (kind, n_primary, n_check) sub-row —
    ``minhash``/``simhash`` carry (n_batch_pairs, n_uncovered=0) from
    the component-recall invariant, ``exact`` carries (n_winners,
    n_distinct_hashes) from the first-arrival-wins contract, and
    ``probe`` (round-9) carries the restarted-stream persisted-table
    probe's stream==batch equality (see
    :func:`_q_streaming_probe_replay`)."""
    mh = _q_streaming_minhash_replay(spark, sf_dir).select(
        F.lit("minhash").alias("kind"),
        F.col("n_batch_pairs").alias("n_primary"),
        F.col("n_uncovered").alias("n_check"),
    )
    ex = _q_streaming_dedup_exact_replay(spark, sf_dir).select(
        F.lit("exact").alias("kind"),
        F.col("n_winners").alias("n_primary"),
        F.col("n_distinct_hashes").alias("n_check"),
    )
    sh = _q_streaming_simhash_replay(spark, sf_dir).select(
        F.lit("simhash").alias("kind"),
        F.col("n_batch_pairs").alias("n_primary"),
        F.col("n_uncovered").alias("n_check"),
    )
    pr = _q_streaming_probe_replay(spark, sf_dir).select(
        F.lit("probe").alias("kind"), "n_primary", "n_check",
    )
    return mh.unionByName(ex).unionByName(sh).unionByName(pr)


_register(
    "streaming_replay_invariants",
    _q_streaming_replays,
    "SELECT 'minhash' AS kind, CAST(COUNT(*) AS BIGINT) AS n_primary, "
    f"CAST(0 AS BIGINT) AS n_check FROM ({_MINHASH_CAND_SQL}) "
    "UNION ALL SELECT 'exact' AS kind, "
    "CAST(COUNT(DISTINCT text) AS BIGINT) AS n_primary, "
    f"CAST(COUNT(DISTINCT text) AS BIGINT) AS n_check FROM {_DUP_SQL} "
    "UNION ALL SELECT 'simhash' AS kind, "
    "CAST(COUNT(*) AS BIGINT) AS n_primary, "
    f"CAST(0 AS BIGINT) AS n_check FROM ({ORACLES['simhash_candidates']}) "
    f"UNION ALL SELECT 'probe' AS kind, CAST(COUNT(*) AS BIGINT) "
    f"AS n_primary, CAST(0 AS BIGINT) AS n_check "
    f"FROM (WITH {_inc_lsh_ctes()} SELECT * FROM gated)",
)


_FP_SQL = (
    "SELECT doc_id, list_reduce("
    "list_prepend(CAST(0 AS BIGINT), list_sort("
    f"[{_FNV_TOKEN} FOR t IN string_split_regex(trim(lower(text)), '\\s+')])), "
    "(acc, h) -> (acc * 1000003 + h) % 2147483647) AS fingerprint "
    "FROM documents"
)

_register(
    "text_language_id",
    _q_language_id,
    f"SELECT l.*, f.fingerprint FROM ({_language_id_oracle()}) l "
    f"JOIN ({_FP_SQL}) f ON l.doc_id = f.doc_id",
)


def _q_norms_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantize_embeddings + embedding_norms gated in ONE row set
    (registry consolidated to the driver's 50-row budget): the
    posexploded int8 quantization rows carry the vec's L2 norm and dim
    as constant columns — both operators' outputs hash-compare."""
    from .operators import embedding_norms, quantize_embeddings

    emb = get_tables(spark, sf_dir)["embeddings"]
    q = quantize_embeddings(emb).select(
        "vec_id", "scale", F.posexplode("qvec").alias("idx", "qval"))
    return q.join(
        embedding_norms(emb).select("vec_id", "l2_norm", "dim"), "vec_id")


_register(
    "embedding_norms_quantize",
    _q_norms_quantize,
    # same arithmetic order: amax fold -> /127 -> per-element round;
    # parallel UNNEST zips index and value like the minhash oracle
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
        list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                    (a, b) -> greatest(a, b)) / 127.0 AS scale_raw
      FROM v),
q AS (
  SELECT vec_id, ROUND(scale_raw, 9) AS scale,
         UNNEST(range(len(v))) AS idx,
         UNNEST([CAST(COALESCE(ROUND(x / nullif(scale_raw, 0.0), 0), 0.0)
                      AS INT) FOR x IN v]) AS qval
  FROM s)
SELECT q.vec_id, q.scale, q.idx, q.qval, n.l2_norm, n.dim
FROM q JOIN ({_EMB_NORMS_SQL}) n ON q.vec_id = n.vec_id
""",
)


def _session_table(cache: dict, key, prefix: str, write_fn) -> str:
    """Build-once-per-(session, sf_dir) persisted table for the
    incremental gate rows (signature/gram tables): a monotone
    sequence-numbered name (NOT len(cache) — after an eviction the
    length would reuse a live entry's name and silently overwrite
    another sf_dir's table), a mkdtemp data dir, ``write_fn(table,
    path)`` to create it, and a cleanup closure (catalog drops +
    rmtree) registered with :func:`_cache_put`.  Returns the table
    name.  Shared by the text-LSH, embedding and span incremental
    legs — one copy of the lifecycle instead of three."""
    if key not in cache:
        import shutil
        import tempfile

        tbl = f"{prefix}_{next(_INC_SIG_SEQ)}"
        tmp = tempfile.mkdtemp(prefix=f"{prefix}_")
        write_fn(tbl, os.path.join(tmp, "t"))

        def _cleanup(tbl=tbl, tmp=tmp):
            s = SparkSession.getActiveSession()
            if s is not None:
                s.sql(f"DROP TABLE IF EXISTS {tbl}")
                s.sql(f"DROP TABLE IF EXISTS {tbl}__params")
            shutil.rmtree(tmp, ignore_errors=True)

        _cache_put(cache, key, tbl, _cleanup)
    return cache[key][0]


def _cache_put(cache: dict, key, value, cleanup=None, cap: int = 8) -> None:
    """Bounded per-session cache insert shared by the IVF/signature
    caches: evictions past the cap run the evicted entry's ``cleanup``
    (a no-arg callable) so a long-lived driver cycling many
    (session, sf_dir) keys releases catalog tables and temp
    directories instead of leaking them.  Entries are (value, cleanup)
    tuples; a failed cleanup never fails the live query."""
    while len(cache) >= cap:
        _, old_cleanup = cache.pop(next(iter(cache)))
        if old_cleanup is not None:
            try:
                old_cleanup()
            except Exception:  # noqa: BLE001
                pass
    cache[key] = (value, cleanup)


_IVF_CENT_CACHE: dict = {}
_IVF_INDEX_CACHE: dict = {}


def _q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .operators import build_ivf_index, ivf_topk, ivf_topk_indexed

    emb = get_tables(spark, sf_dir)["embeddings"]
    # The centroids are a fixed constant of this query (the vec_id<4
    # embeddings); cache the 4-row collect per (session, sf_dir) —
    # production IVF amortizes its index over every search, so repeated
    # invocations (bench steady state) should time assignment+search,
    # not the one-off driver fetch.  Keyed on applicationId (stable and
    # unique per session — CPython can reuse id(spark) after a stop)
    # and bounded; assumes sf_dir's parquet is immutable in-process
    # (true for the driver's testdata).
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _IVF_CENT_CACHE:
        _cache_put(_IVF_CENT_CACHE, key, np.stack([
            np.array(r.embedding, dtype=np.float64)
            for r in emb.where(F.col("vec_id") < 4).collect()
        ]))
    cents = _IVF_CENT_CACHE[key][0]
    queries = emb.where(F.col("vec_id") < 8)
    inline = ivf_topk(emb, queries, cents, k=5, nprobe=2, ranked=False)
    # persisted-index leg (the 100 TB search plan): build the
    # cid-partitioned index ONCE per (session, sf_dir) — production
    # amortizes the build over every search — then search via the
    # partition-pruned read.  Identical rows to the inline leg by
    # construction, so BOTH legs run under the same oracle, tagged.
    if key not in _IVF_INDEX_CACHE:
        import functools
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="dhs_ivf_")
        path = os.path.join(tmp, "index")
        path_q = os.path.join(tmp, "index_q")
        build_ivf_index(emb, cents, path)
        # the QUANTIZED layout of the same index (int8 components +
        # per-vector scale): deterministic Column arithmetic, so its
        # dequantized search hash-checks under its own leg below
        build_ivf_index(emb, cents, path_q, quantize=True)
        _cache_put(_IVF_INDEX_CACHE, key, (path, path_q),
                   functools.partial(shutil.rmtree, tmp,
                                     ignore_errors=True))
    path, path_q = _IVF_INDEX_CACHE[key][0]
    # centroids=cents: both indexes were built from cents in this very
    # session (the cache above), so the documented override skips two
    # eager sidecar loads (parquet read + orderBy + collect) per
    # invocation — identical probe math by construction (round-15)
    indexed = ivf_topk_indexed(path, queries, cents, k=5, nprobe=2,
                               ranked=False)
    quant = ivf_topk_indexed(path_q, queries, cents, k=5, nprobe=2,
                             ranked=False)
    # ONE ranking window over the unioned scored legs instead of one
    # per leg (round-15: 3 tiny rank exchanges -> 1; row-identical —
    # row_number partitioned by (leg, query_id) == per-leg row_number
    # by query_id, see rank_topk)
    from .operators.similarity import rank_topk

    scored = inline.withColumn("leg", F.lit("inline")).unionByName(
        indexed.withColumn("leg", F.lit("indexed"))).unionByName(
        quant.withColumn("leg", F.lit("quant")))
    return rank_topk(scored, k=5, extra_partition_cols=("leg",)).select(
        "query_id", "neighbor_id", "cos_sim", "rank", "leg")


# IVF is deterministic given fixed centroids (here: the vec_id<4
# embeddings), so it IS oracle-checkable: assign every vector to its
# max-cosine centroid, expand each query to its nprobe=2 best
# centroids, score only within probed buckets.  Ranking happens on the
# 6-digit-rounded cosine, neighbor_id breaking ties — same as
# operators/similarity.py ivf_topk.  The row runs the search TWICE —
# inline assignment and the persisted partition-pruned index — and the
# oracle cross-joins the leg tags: both plans must hash-match the same
# result set, which driver-gates the on-disk index path too.
_register(
    "similarity_ivf_topk",
    _q_ivf,
    """
WITH cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < 4
), assigned AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
         arg_max(c.cid,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        c.cvec)) AS cid
  FROM embeddings e, cent c GROUP BY 1, 2
), probes AS (
  SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           c.cvec) DESC, c.cid ASC) AS pr
  FROM embeddings q, cent c WHERE q.vec_id < 8
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim
  FROM (SELECT * FROM probes WHERE pr <= 2) p
  JOIN assigned a USING (cid)
  WHERE a.vec_id != p.query_id
)
, ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored QUALIFY rank <= 5
)
-- quant leg: the index's int8 layout — same amax/127 scale and
-- round-to-int as the embedding_norms_quantize row (the rounding
-- agreement is already pinned there), dequantized back to doubles
-- inside the scoring, float query side unchanged
, dq AS (
  SELECT a.vec_id, a.cid,
         [CAST(COALESCE(ROUND(x / nullif(
             list_reduce(list_prepend(0.0,
                         list_transform(a.v, y -> abs(y))),
                         (p, q2) -> greatest(p, q2)) / 127.0,
             0.0), 0), 0.0) AS INT)
          * (list_reduce(list_prepend(0.0,
                         list_transform(a.v, y -> abs(y))),
                         (p, q2) -> greatest(p, q2)) / 127.0)
          FOR x IN a.v] AS dv
  FROM assigned a
), scoredq AS (
  SELECT p.query_id, d.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(p.qv, d.dv), 6) AS cos_sim
  FROM (SELECT * FROM probes WHERE pr <= 2) p
  JOIN dq d USING (cid)
  WHERE d.vec_id != p.query_id
), rankedq AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scoredq QUALIFY rank <= 5
)
SELECT r.*, l.leg
FROM ranked r CROSS JOIN (SELECT UNNEST(['inline', 'indexed']) AS leg) l
UNION ALL
SELECT query_id, neighbor_id, cos_sim, rank, 'quant' AS leg FROM rankedq
""",
)


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH multimodal kernels in one HASH-CHECKED entry: per-doc image
    features (posexploded to scalars) carry the clip's audio-frame
    aggregate as constant per-doc columns — image decode AND audio
    frame-sampling both execute and both feed the row hash.  The fake
    decoders are arithmetically defined (closed-form channel means,
    block-decomposable quad features, dyadic-exact frame RMS — see
    operators/multimodal.py), so the decoded path has a full DuckDB
    twin; the element-wise mapInPandas-plumbing gate additionally
    lives in tests/test_operators.py::test_multimodal_numpy_twin.

    Round 14 adds the REAL-CODEC image leg (``leg='png'``, round-13
    VERDICT #5): the arithmetic image is encoded to genuine PNG bytes
    (``encode_fake_png_media`` — independent numpy forward encoder,
    stdlib zlib) and decoded back through the seam with the
    critical-chunk ``png_decoder`` (stdlib zlib + struct, spec-literal
    golden fixtures in tests/test_operators.py).  The round-trip must
    be pixel-exact, so the png leg's features share the stub leg's
    closed-form oracle — a single flipped bit anywhere in the chunk
    walk, CRC check, inflate, unfilter, or feature math
    hash-mismatches this row.  The image twin of the WAV gate."""
    from .operators.multimodal import (
        attach_fake_media,
        decode_image_features,
        encode_fake_png_media,
        png_seam_decoder,
        sample_audio_frames,
    )

    # deterministic doc subset (a bare limit(50) has no stable SQL twin)
    d = get_tables(spark, sf_dir)["documents"].where(F.col("doc_id") < 50)
    media = attach_fake_media(d)
    # real-codec leg on a nested subset: 40 docs x <=512x384 PNGs
    # bounds the encode+decode pass at any sf (doc_id filters are
    # sf-independent)
    png_media = encode_fake_png_media(media.where(F.col("doc_id") < 40))
    feats = (
        decode_image_features(media).withColumn("leg", F.lit("stub"))
        .unionByName(
            decode_image_features(png_media, decoder=png_seam_decoder)
            .withColumn("leg", F.lit("png")))
    )
    audio = (
        sample_audio_frames(media)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.round(F.avg("rms"), 6).alias("mean_rms"),
        )
    )
    # posexplode feat to scalars (same trick as minhash_signatures): the
    # driver gate's canonicalizer lexsorts rows and cannot hash an
    # array<float> cell.
    return feats.select(
        "doc_id", "leg", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.posexplode("feat").alias("feat_idx", "feat_val"),
    ).withColumn(
        "feat_val", F.round(F.col("feat_val").cast("double"), 4)
    ).join(audio, "doc_id")


# Oracle: the fake decoders are pure arithmetic in (seed, x, y, c) with
# seed = big-endian int of payload bytes 4..7 — ASCII codes of hex chars
# 5-8 of sha256(doc_id), since the payload is the digest's UTF-8 hex.
#   pixel[y,x,c] = (seed+11c)%200 + (3x)%8 + (7y)%8
#     -> channel mean over a (64k x 64k)-multiple image == (seed+11c)%200 + 7
#     -> 2x2 quad features decompose into block sums over the 32-point
#        integer subsample grid ((i*(n-1))//31), sfx/16 + sgy/16 + const
#   wave[i] = ((seed+37i)%2001 - 1000)/1024  (dyadic: RMS is bit-exact)
#     -> per-frame RMS = sqrt(sum(v^2)/400) over 4 hops of 4000
_register(
    "multimodal_features",
    _q_multimodal,
    """
WITH docs AS (
  SELECT doc_id,
         CAST((doc_id % 8) * 64 + 64 AS INT) AS width,
         CAST((doc_id % 6) * 64 + 64 AS INT) AS height,
         ascii(substr(sha256(CAST(doc_id AS VARCHAR)), 5, 1)) * 16777216
         + ascii(substr(sha256(CAST(doc_id AS VARCHAR)), 6, 1)) * 65536
         + ascii(substr(sha256(CAST(doc_id AS VARCHAR)), 7, 1)) * 256
         + ascii(substr(sha256(CAST(doc_id AS VARCHAR)), 8, 1)) AS seed
  FROM documents WHERE doc_id < 50
), sub AS (
  SELECT d.doc_id, g.i // 16 AS blk,
         (3 * ((g.i * (d.width - 1)) // 31)) % 8 AS fx,
         (7 * ((g.i * (d.height - 1)) // 31)) % 8 AS gy
  FROM docs d, generate_series(0, 31) g(i)
), blocks AS (
  SELECT doc_id, blk, SUM(fx) AS sfx, SUM(gy) AS sgy
  FROM sub GROUP BY doc_id, blk
), feats AS (
  SELECT d.doc_id,
         CAST(b_y.blk * 6 + b_x.blk * 3 + c.c AS INT) AS feat_idx,
         ROUND(CAST((d.seed + 11 * c.c) % 200 AS DOUBLE)
               + b_y.sgy / 16.0 + b_x.sfx / 16.0, 4) AS feat_val
  FROM docs d
  JOIN blocks b_y ON b_y.doc_id = d.doc_id
  JOIN blocks b_x ON b_x.doc_id = d.doc_id
  CROSS JOIN generate_series(0, 2) c(c)
), samples AS (
  SELECT d.doc_id, f.f,
         ((d.seed + 37 * (4000 * f.f + t.t)) % 2001 - 1000) / 1024.0 AS v
  FROM docs d, generate_series(0, 3) f(f), generate_series(0, 399) t(t)
), rms AS (
  SELECT doc_id, f, sqrt(SUM(v * v) / 400.0) AS rms
  FROM samples GROUP BY doc_id, f
), audio AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
         ROUND(AVG(rms), 6) AS mean_rms
  FROM rms GROUP BY doc_id
)
SELECT d.doc_id, l.leg, d.width, d.height,
       ROUND(CAST(d.seed % 200 + 7 AS DOUBLE), 6) AS mean_r,
       ROUND(CAST((d.seed + 11) % 200 + 7 AS DOUBLE), 6) AS mean_g,
       ROUND(CAST((d.seed + 22) % 200 + 7 AS DOUBLE), 6) AS mean_b,
       f.feat_idx, f.feat_val, a.n_frames, a.mean_rms
FROM docs d
JOIN feats f ON f.doc_id = d.doc_id
JOIN audio a ON a.doc_id = d.doc_id
-- the png real-codec leg must land on the SAME closed form: the
-- round-trip is pixel-exact, so its rows are the stub rows for the
-- doc_id < 40 subset re-labeled
CROSS JOIN (SELECT UNNEST(['stub', 'png']) AS leg) l
WHERE l.leg = 'stub' OR d.doc_id < 40
""",
)


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata/bytes half of the multimodal surface — fully
    SQL-expressible even with the pixel decoder stubbed:
    ``attach_fake_media``'s payload is the sha2-256 hex digest of the
    id and the meta struct is plain arithmetic on it, so DuckDB
    recomputes the identical payload (``sha256``) and fields.  It was
    the multimodal family's first hash-matched oracle row; the
    decoded-pixel/audio features row (``multimodal_features`` above)
    has since gained its own closed-form oracle, including the
    round-14 real-PNG leg."""
    from .operators.multimodal import attach_fake_media

    d = get_tables(spark, sf_dir)["documents"].select("doc_id")
    m = attach_fake_media(d)
    return m.select(
        "doc_id",
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.col("media_meta.format").alias("format"),
        F.octet_length("media").cast("int").alias("n_bytes"),
        F.col("media").cast("string").alias("payload_hex"),
        (F.col("media_meta.width").cast("bigint")
         * F.col("media_meta.height")).alias("n_pixels"),
        F.round(F.col("media_meta.width") / F.col("media_meta.height"),
                6).alias("aspect"),
    )


_register(
    "multimodal_meta_features",
    _q_multimodal_meta,
    "SELECT doc_id, "
    "CAST((doc_id % 8) * 64 + 64 AS INT) AS width, "
    "CAST((doc_id % 6) * 64 + 64 AS INT) AS height, "
    "'fake/rgb8' AS format, "
    "CAST(length(sha256(CAST(doc_id AS VARCHAR))) AS INT) AS n_bytes, "
    "sha256(CAST(doc_id AS VARCHAR)) AS payload_hex, "
    "CAST((doc_id % 8) * 64 + 64 AS BIGINT) * ((doc_id % 6) * 64 + 64) "
    "AS n_pixels, "
    "ROUND(((doc_id % 8) * 64 + 64) / ((doc_id % 6) * 64 + 64.0), 6) "
    "AS aspect "
    "FROM documents",
)


_SPLIT_RATIOS = {"train": 0.9, "val": 0.05, "test": 0.05}


_STRAT_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}

# mix leg of the corpus_split_sample row: exact binary-fraction
# weights (wsum == 1.0 exactly) so Python and SQL double arithmetic
# produce bit-identical per-source rates
_MIX_SOURCES = ("web", "code", "books")
_MIX_WEIGHTS = {"web": 0.5, "code": 0.25, "books": 0.25}


def _q_corpus_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash_split + hash_sample + stratified_sample + quota_sample
    gated in ONE driver row (registry consolidated to the driver's
    50-row budget): every doc's deterministic split label, its
    (doc_id, seed)-pure 25% sample membership, its per-language
    stratified-sample membership (language downmixing — rates keyed
    on pred_lang), and its per-source quota membership (head-source
    capping at 10 docs; every 97th doc is diverted to a tiny
    ``__rare`` group so BOTH quota branches — wholesale small-group
    pass and threshold+window on oversized groups — execute under the
    gate) as 0/1 flags.  The left joins against the sampled ids are
    gate-row plumbing only — production callers use the operators
    directly (the samplers filter inline, zero shuffle; quota windows
    only its bounded survivor set)."""
    from .operators import (
        hash_sample,
        hash_split,
        language_id,
        quota_sample,
        stratified_sample,
    )

    d = get_tables(spark, sf_dir)["documents"]
    split = hash_split(d, _SPLIT_RATIOS).select("doc_id", "split", "n_chars")
    samp = hash_sample(d, 0.25, seed=7).select(
        "doc_id", F.lit(1).alias("in_sample"))
    langed = d.join(language_id(d).select("doc_id", "pred_lang"), "doc_id")
    strat = stratified_sample(
        langed, _STRAT_RATES, "pred_lang", seed=11, default_rate=0.1
    ).select("doc_id", F.lit(1).alias("in_strat"))
    grouped = d.withColumn(
        "qgrp",
        F.when(F.col("doc_id") % 97 == 0, F.lit("__rare"))
        .otherwise(F.col("source")),
    )
    # validate=False: the guard is an eager extra scan, and this row's
    # correctness check IS the DuckDB QUALIFY twin
    quota = quota_sample(grouped, 10, group_col="qgrp", seed=13,
                         validate=False).select(
        "doc_id", F.lit(1).alias("in_quota"))
    # mix_corpora leg: doc_id % 3 carves three pseudo-sources; n_chars
    # stands in for the token budget.  Weights are exact binary
    # fractions so the Python rate arithmetic (mix_plan) and the
    # oracle's SQL doubles agree bit-for-bit
    from .operators import mix_corpora

    srcs = {
        name: d.where(F.pmod(F.col("doc_id"), F.lit(3)) == k)
        for k, name in enumerate(_MIX_SOURCES)
    }
    mixed = mix_corpora(srcs, _MIX_WEIGHTS, tokens_col="n_chars",
                        seed=17).select(
        "doc_id", F.lit(1).alias("in_mix"))
    return (
        split.join(samp, "doc_id", "left")
        .join(strat, "doc_id", "left")
        .join(quota, "doc_id", "left")
        .join(mixed, "doc_id", "left")
        .withColumn("in_sample", F.coalesce(F.col("in_sample"), F.lit(0)))
        .withColumn("in_strat", F.coalesce(F.col("in_strat"), F.lit(0)))
        .withColumn("in_quota", F.coalesce(F.col("in_quota"), F.lit(0)))
        .withColumn("in_mix", F.coalesce(F.col("in_mix"), F.lit(0)))
    )


from .operators.pipeline import hash_sample_sql as _sample_sql  # noqa: E402
from .operators.pipeline import hash_split_sql as _split_sql  # noqa: E402
from .operators.pipeline import quota_rank_sql as _quota_sql  # noqa: E402
from .operators.pipeline import stratified_sample_sql as _strat_sql  # noqa: E402


def _lang_case_sql() -> str:
    """Self-contained DuckDB expression for pred_lang (the CASE from
    _language_id_oracle with the score subquery aliases inlined) —
    usable inside a single-table SELECT."""
    from .operators.text import STOPWORDS

    scores = {lang: _lang_score_sql(ws) for lang, ws in STOPWORDS.items()}
    best = "GREATEST(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {best} > 0 AND {scores[l]} = {best} THEN '{l}'"
        for l in STOPWORDS
    )
    return f"CASE {cases} ELSE 'unknown' END"


_QUOTA_GRP_SQL = (
    "CASE WHEN doc_id % 97 = 0 THEN '__rare' ELSE source END"
)

from .operators.pipeline import _SPLIT_M as _GOLD_M  # noqa: E402
from .operators.pipeline import _gold_hash_sql as _ghash_sql  # noqa: E402
from .operators.pipeline import _mix_seed as _mseed  # noqa: E402


def _mix_carve_sql() -> str:
    """The doc_id -> pseudo-source CASE, generated from _MIX_SOURCES
    (single source of truth with the Spark side's enumerate) and
    wrapped non-negative like every other % twin so negative ids
    carve identically to pmod."""
    whens = " ".join(
        f"WHEN {k} THEN '{s}'"
        for k, s in enumerate(_MIX_SOURCES[:-1])
    )
    return (f"CASE CAST((doc_id % 3 + 3) % 3 AS INT) {whens} "
            f"ELSE '{_MIX_SOURCES[-1]}' END")


def _mix_flag_sql() -> str:
    """The in_mix CASE for the corpus_split_sample oracle: the
    per-source frac (same derived seeds as mix_corpora) compared to
    the rate the `rates` CTE computes with mix_plan's exact float
    order of operations."""
    def frac(name: str) -> str:
        h = _ghash_sql("doc_id", _mseed(17, name))
        return f"(CAST({h} AS DOUBLE) / {float(_GOLD_M)!r})"

    whens = " ".join(
        f"WHEN '{s}' THEN {frac(s)}" for s in _MIX_SOURCES[:-1]
    )
    pick = f"CASE mix_s {whens} ELSE {frac(_MIX_SOURCES[-1])} END"
    return f"CAST(CASE WHEN {pick} < r.rate THEN 1 ELSE 0 END AS INT)"


_register(
    "corpus_split_sample",
    _q_corpus_split_sample,
    "WITH base AS ("
    f"  SELECT doc_id, n_chars, {_lang_case_sql()} AS grp, "
    f"  {_quota_sql(_QUOTA_GRP_SQL, 'doc_id', seed=13)} AS qrank, "
    f"  {_mix_carve_sql()} AS mix_s "
    "  FROM documents), "
    "tot AS (SELECT mix_s, CAST(SUM(n_chars) AS DOUBLE) AS T "
    "        FROM base GROUP BY mix_s), "
    "wts(mix_s, w) AS (VALUES "
    + ", ".join(f"('{s}', {float(_MIX_WEIGHTS[s])!r})"
                for s in _MIX_SOURCES) + "), "
    "feas AS (SELECT MIN(T / w) AS total FROM tot JOIN wts USING (mix_s)), "
    "rates AS (SELECT mix_s, CASE WHEN w * f.total / T >= "
    f"{1.0 - 1e-9!r} THEN 1.0 ELSE w * f.total / T END AS rate "
    "          FROM tot JOIN wts USING (mix_s), feas f) "
    f"SELECT doc_id, {_split_sql(_SPLIT_RATIOS)}, "
    f"CAST(CASE WHEN {_sample_sql(0.25, seed=7)} THEN 1 ELSE 0 END AS INT) "
    "AS in_sample, "
    f"CAST(CASE WHEN {_strat_sql(_STRAT_RATES, 'grp', seed=11, default_rate=0.1)} "
    "THEN 1 ELSE 0 END AS INT) AS in_strat, "
    "CAST(CASE WHEN qrank <= 10 THEN 1 ELSE 0 END AS INT) AS in_quota, "
    f"{_mix_flag_sql()} AS in_mix, "
    "n_chars FROM base JOIN rates r USING (mix_s)",
)


from .operators.dedup import agreement_gate as _agate  # noqa: E402

_CONTAM_GATE = _agate(32, jaccard=0.5)  # theory-derived 10/32


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan, BOTH tiers under one row:

    - ``kind='exact'``: documents with doc_id % 97 == 0 stand in for
      the (tiny) eval suite; every remaining training doc gets its
      word-3-gram overlap count/fraction against the broadcast
      benchmark gram set.  One narrow pass over the training side —
      no join, no shuffle (operators.pipeline.contamination_check).
    - ``kind='lsh'``: the NEAR-dup tier
      (operators.pipeline.contamination_near_dup) — the eval suite is
      a suffixed (' (eval v2)') variant of every 97th doc, so those
      originals are planted paraphrase-grade leaks inside the full
      training table; benchmark band rows broadcast, training side
      minhashed in place, gate = theory 10/32 at J>=0.5.
    """
    from .operators import contamination_check, contamination_near_dup

    d = get_tables(spark, sf_dir)["documents"]
    train = d.where(F.pmod(F.col("doc_id"), F.lit(97)) != 0)
    bench = d.where(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    exact = contamination_check(train, bench, n=3, threshold=0.2)
    bench2 = bench.select(
        "doc_id", F.concat(F.col("text"), F.lit(" (eval v2)")).alias("text"))
    # the operator is deliberately shuffle-free (the caller owns input
    # partitioning: a 100 TB scan arrives in thousands of splits); the
    # sf0.1 parquet is ONE file -> one partition, which would serialize
    # the minhash kernel, so spread it here — same posture as
    # dedup_incremental's batch repartition
    nparts = spark.sparkContext.defaultParallelism
    near = contamination_near_dup(d.repartition(nparts), bench2,
                                  num_perm=32, bands=8,
                                  hash_fn="fnv1a32",
                                  min_sig_matches=_CONTAM_GATE)
    return (
        exact.select(F.lit("exact").alias("kind"), "doc_id", "n_grams",
                     "n_hits", "contamination_ratio", "contaminated")
        .unionByName(near.select(
            F.lit("lsh").alias("kind"), "doc_id",
            F.lit(None).cast("int").alias("n_grams"),
            F.col("n_matched_bench").cast("int").alias("n_hits"),
            F.lit(None).cast("double").alias("contamination_ratio"),
            "contaminated"))
    )


_register(
    "contamination_check",
    _q_contamination,
    r"""
WITH g AS (
  SELECT doc_id, list_distinct([
      array_to_string(toks[i : i + 2], ' ')
      FOR i IN range(1, greatest(len(toks) - 2, 1) + 1)]) AS grams
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents)),
bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 != 0),
hits AS (
  SELECT tg.doc_id, COUNT(*) AS n_hits
  FROM tg JOIN bg USING (gram) GROUP BY 1),
"""
    + f"""
b2 AS (SELECT doc_id, text || ' (eval v2)' AS text FROM documents
       WHERE doc_id % 97 = 0),
h AS (SELECT doc_id, {_MH_HS} AS hs FROM documents),
s AS (SELECT doc_id, {_MH_SIG} AS sig FROM h),
h2 AS (SELECT doc_id, {_MH_HS} AS hs FROM b2),
s2 AS (SELECT doc_id, {_MH_SIG} AS sig FROM h2),
bt AS ({_minhash_band_sql(bands=8, r=4, src='s')}),
bb AS ({_minhash_band_sql(bands=8, r=4, src='s2')}),
cand AS (
  SELECT t.doc_id AS train_id, b.doc_id AS bench_id
  FROM bt t JOIN bb b ON t.band = b.band AND t.bucket = b.bucket
  GROUP BY 1, 2),
gated AS (
  SELECT c.train_id, c.bench_id FROM cand c
  JOIN s sa ON sa.doc_id = c.train_id
  JOIN s2 sb ON sb.doc_id = c.bench_id
  WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i]))
        >= {_CONTAM_GATE}),
cnt AS (SELECT train_id, COUNT(DISTINCT bench_id) AS n FROM gated
        GROUP BY 1)
"""
    + r"""
SELECT 'exact' AS kind, g.doc_id, CAST(len(grams) AS INT) AS n_grams,
       CAST(COALESCE(n_hits, 0) AS INT) AS n_hits,
       ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE)
             / GREATEST(len(grams), 1), 6) AS contamination_ratio,
       CAST(ROUND(CAST(COALESCE(n_hits, 0) AS DOUBLE)
             / GREATEST(len(grams), 1), 6) >= 0.2 AS INT) AS contaminated
FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
WHERE g.doc_id % 97 != 0
UNION ALL
SELECT 'lsh' AS kind, d.doc_id, CAST(NULL AS INT) AS n_grams,
       CAST(COALESCE(c.n, 0) AS INT) AS n_hits,
       CAST(NULL AS DOUBLE) AS contamination_ratio,
       CAST(COALESCE(c.n, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN cnt c ON c.train_id = d.doc_id
""",
)


# (normalize_text + redact_pii are gated through the merged
# text_quality row above.)


# BPE-encode leg (round-9, closes the round-8 VERDICT missing item):
# a FIXED literal merge list, WELL-FORMED (every pair's components are
# single chars or results of earlier merges) so priority encoding ==
# sequential rank-order replay — the equivalence apply_bpe's docstring
# claims, pinned corpus-wide by
# tests/test_bpe.py::test_priority_encode_equals_rank_replay.  The
# oracle replays the merges as UNROLLED nested replace() calls over a
# newline-delimited symbol string: each symbol is wrapped \n<sym>\n
# (words contain no whitespace, so '\n' can never occur inside a
# symbol and patterns cannot straddle symbol boundaries), and SQL
# replace() substitutes left-to-right non-overlapping — exactly
# bpe._merge_seq.
_BPE_MERGES = [("t", "a"), ("ta", "b"), ("e", "r"), ("r", "t"),
               ("s", "t"), ("o", "w"), ("a", "n"), ("i", "n"),
               ("in", "e"), ("q", "u")]


def _bpe_encode_ctes(src: str) -> str:
    """DuckDB twin of ``apply_bpe(df, _BPE_MERGES)`` over ``src``
    (doc_id, text): per-doc BPE token count + md5 of the
    space-joined encoded token stream.  Distinct words encode once
    (the kernel's per-batch cache, as a DISTINCT), then join back by
    position."""
    nl = "chr(10)"
    expr = f"{nl} || array_to_string(string_split(w, ''), {nl}||{nl}) || {nl}"
    for a, b in _BPE_MERGES:
        pat = f"{nl}||'{a}'||{nl}||{nl}||'{b}'||{nl}"
        rep = f"{nl}||'{a}{b}'||{nl}"
        expr = f"replace({expr}, {pat}, {rep})"
    return f"""
bw AS (
  SELECT doc_id, ws[i] AS w, CAST(i AS INT) AS pos
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
        FROM (SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS ws
              FROM {src}))
  WHERE ws[i] != ''
), dw AS (SELECT DISTINCT w FROM bw),
enc AS (
  SELECT w, string_split(trim({expr}, {nl}), {nl}||{nl}) AS toks
  FROM dw
),
bpe AS (
  SELECT b.doc_id,
         CAST(SUM(len(e.toks)) AS INT) AS n_bpe,
         md5(string_agg(array_to_string(e.toks, ' '),
                        ' ' ORDER BY b.pos)) AS bpe_md5
  FROM bw b JOIN enc e ON e.w = b.w
  GROUP BY b.doc_id
)"""


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quota packing of the prepared corpus, grouped by the
    hash split so the window never globally orders.  Quotas are
    measured in REAL pre-tokenizer counts (``n_bpe_tokens``, the
    cross-engine-pinned BPE_SPLIT_PATTERN match count) — a chars/4 or
    whitespace proxy under-packs code/punctuation-heavy documents,
    where actual token budgets run ~2x the whitespace count.

    Round-9 BPE-ENCODE leg: every packed row also carries
    ``apply_bpe``'s deterministic encoding under the fixed
    ``_BPE_MERGES`` list — per-doc token count + md5 of the encoded
    stream — hash-gated against the oracle's nested-replace replay of
    the same merges (see :func:`_bpe_encode_ctes`)."""
    from .operators import apply_bpe, hash_split
    from .operators.pipeline import pack_sequences, prepare_training_corpus

    dup = _dup_corpus(spark, sf_dir)
    prepared = prepare_training_corpus(dup)
    with_split = hash_split(prepared, _SPLIT_RATIOS)
    packed = pack_sequences(with_split, max_tokens=512, group_col="split",
                            tokens_col="n_bpe_tokens")
    enc = apply_bpe(dup, _BPE_MERGES).select(
        "doc_id", "n_bpe",
        F.md5(F.array_join("bpe_tokens", " ")).alias("bpe_md5"))
    return packed.select("doc_id", "split", "n_tokens", "n_bpe_tokens",
                         "seq_id").join(enc, "doc_id")


from .operators.pipeline import pack_sequences_sql as _pack_sql  # noqa: E402

_register(
    "pipeline_pack_sequences",
    _q_pack_sequences,
    # LEFT JOIN + COALESCE: apply_bpe emits n_bpe=0 / md5('') rows for
    # wordless docs, while bw (and so bpe) has no rows for them — an
    # inner join's row-set parity would silently lean on the
    # min_tokens gate excluding such docs from the packed side
    # (round-9 ADVICE)
    f"WITH {_bpe_encode_ctes(_DUP_SQL)} "
    f"SELECT pk.*, COALESCE(bpe.n_bpe, 0) AS n_bpe, "
    f"COALESCE(bpe.bpe_md5, md5('')) AS bpe_md5 FROM ("
    f"SELECT doc_id, split, n_tokens, n_bpe_tokens, "
    f"{_pack_sql(512, group_col='split', tokens_col='n_bpe_tokens')} "
    f"FROM (SELECT *, {_split_sql(_SPLIT_RATIOS)} "
    f"FROM ({_pipe_sql(table=_DUP_SQL)}))) pk "
    f"LEFT JOIN bpe USING (doc_id)",
)


# (repetition_stats is gated through the merged text_quality row;
# redact_pii through the merged text_normalize_redact row.)


def _q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import token_vocabulary

    d = get_tables(spark, sf_dir)["documents"]
    return token_vocabulary(d, min_count=2, top_k=200)


_register(
    "token_vocabulary",
    _q_token_vocab,
    """
SELECT token, count, rank FROM (
  SELECT token, count,
         ROW_NUMBER() OVER (ORDER BY count DESC, token ASC) AS rank
  FROM (
    SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS count FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents)
    WHERE tok != '' GROUP BY tok)
  WHERE count >= 2)
WHERE rank <= 200
""",
)


_WINDOWED_SPEC = HistogramSpec(axes=(Regular(10, 0.0, 100.0),),
                               storage=Storage.DOUBLE)


def _q_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windowed_histogram

    ev = get_tables(spark, sf_dir)["events"]
    w = windowed_histogram(ev, "ts", ["value"], _WINDOWED_SPEC,
                           window="6 hours", slide="3 hours")
    # epoch seconds rather than timestamps so the oracle compare is
    # timezone-representation-proof; unix_timestamp, not cast("long"),
    # because it accepts TIMESTAMP and TIMESTAMP_NTZ alike
    return w.select(
        F.unix_timestamp("window_start").alias("win_start_s"),
        F.unix_timestamp("window_end").alias("win_end_s"),
        "bin_0",
        "value",
    )


# Sliding-window algebra twin: Spark's window(ts, 6h, 3h) assigns each
# event to the window = 2 epoch-aligned 3h-slide starts covering it
# (start = slide_floor(ts) - i*slide, i in 0..window/slide-1, always
# in-range when window is a multiple of slide).
_register(
    "windowed_histogram",
    _q_windowed,
    "WITH w AS (SELECT (CAST(FLOOR(epoch(ts) / 10800) AS BIGINT) - i.i) "
    "* 10800 AS ws, value FROM events, (SELECT UNNEST([0, 1]) AS i) i) "
    "SELECT ws AS win_start_s, ws + 21600 AS win_end_s, "
    f"{_bin_sql(_WINDOWED_SPEC.axes[0], 'value')} AS bin_0, "
    "CAST(COUNT(*) AS DOUBLE) AS value FROM w GROUP BY 1, 2, 3",
)


def _q_streaming_histogram_replay(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """TRUE ``writeStream`` gate for the streaming histogram: the
    windowed_histogram row above runs the SAME plan batch-shaped; this
    row drives it through Structured Streaming for real — events
    replayed as an unordered multi-file parquet stream (availableNow,
    2 files per micro-batch), watermark wider than the data span so
    the replay order cannot drop rows, update-mode memory sink.  The
    sink holds each (window, bin) key's latest value per micro-batch;
    counts under positive weights are monotone, so max-over-updates is
    the final accumulator — reduced here and compared hash-exact
    against the eager tumbling-window oracle.  The ``collect`` is the
    gate harness (bounded: n_windows x nbins rows), not the operator.
    """
    import shutil
    import tempfile
    import uuid

    from .streaming import windowed_histogram

    ev = get_tables(spark, sf_dir)["events"].select("ts", "value")
    d = tempfile.mkdtemp(prefix="dhs_stream_hist_")
    name = "dhs_swh_" + uuid.uuid4().hex[:8]
    width = _replay_state_width(spark, ev)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        ev.repartition(6).write.mode("overwrite").parquet(d)
        # two micro-batches, same rationale as _stream_replay: the max
        # over update-mode emissions is batch-split-invariant.  State
        # width derives from the replayed volume (at sf0.1 events is
        # large enough that this keeps the session's full width).
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        stream = spark.readStream.schema(ev.schema).option(
            "maxFilesPerTrigger", 3
        ).parquet(d)
        out = windowed_histogram(stream, "ts", ["value"], _WINDOWED_SPEC,
                                 window="1 day", watermark="60 days")
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(f"streaming replay {name} timed out; "
                               "refusing to read a partial sink")
        rows = (
            spark.table(name)
            .groupBy("window_start", "bin_0")
            .agg(F.max("value").alias("value"))
            .select(
                F.unix_timestamp("window_start").alias("win_start_s"),
                (F.unix_timestamp("window_start") + F.lit(86400))
                .alias("win_end_s"),
                "bin_0",
                "value",
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.catalog.dropTempView(name)
        shutil.rmtree(d, ignore_errors=True)
    from .operators.localrel import local_relation

    return local_relation(
        spark, rows,
        "win_start_s long, win_end_s long, bin_0 long, value double"
    )


_register(
    "streaming_histogram_replay",
    _q_streaming_histogram_replay,
    "SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) * 86400 "
    "AS win_start_s, "
    "CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) * 86400 + 86400 "
    "AS win_end_s, "
    f"{_bin_sql(_WINDOWED_SPEC.axes[0], 'value')} AS bin_0, "
    "CAST(COUNT(*) AS DOUBLE) AS value FROM events GROUP BY 1, 2, 3",
)


# ---------------------------------------------------------------------------
# driver-budget guard (round 5): the driver records at most 50
# correctness rows, in registration order.  Round 4 silently grew the
# registry to 56 and rotated 6 queries (including round-3's red
# windowed_histogram) out of the driver's sample.  The registry is now
# consolidated back under the budget and the final order is made
# DELIBERATE here — families grouped, every formerly-rotated row well
# inside the budget.  Adding a query beyond the budget trips the
# assert: consolidate first (COVERAGE.md round-3/round-5 merge tables
# show the patterns).
# ---------------------------------------------------------------------------

_DRIVER_ROW_BUDGET = 50

_ORDER = [
    # §2 histogram parity family
    "hist1d_double", "hist1d_weight", "hist1d_variable",
    "hist2d", "hist3d",
    "hist_strcat", "hist_intcat", "hist_pinned_cats", "hist_int_bool_axes",
    "hist_project", "hist_mean", "hist_weighted_mean", "hist_mean_shifted",
    "hist_customer2d", "hist_orders_status", "hist_filtered",
    "hist_join_weighted", "hist_multifill", "hist_partitioned_collapse",
    "hist_arith", "hist_density", "hist_events_daily",
    "windowed_histogram", "streaming_histogram_replay",
    # dedup family
    "dedup_exact_stats", "dedup_incremental", "dedup_clusters",
    "ngram_jaccard_maxdf", "word_ngram_jaccard",
    "minhash_signatures", "minhash_lsh_stats", "simhash_candidates",
    "dedup_pipeline",
    # text family (language_id row carries the fingerprint columns)
    "text_stats", "text_quality", "text_language_id",
    # embedding / similarity family
    "embedding_norms_quantize", "similarity_topk", "similarity_ivf_topk",
    "embedding_near_dup", "embedding_dedup_pipeline",
    # corpus pipeline family
    "pipeline_prepare_corpus", "pipeline_corpus_stats",
    "corpus_split_sample", "pipeline_pack_sequences", "token_vocabulary",
    "contamination_check",
    # streaming invariants
    "streaming_replay_invariants",
    # multimodal (meta oracled; decoded features rows-only by contract)
    "multimodal_meta_features", "multimodal_features",
]

assert len(_ORDER) <= _DRIVER_ROW_BUDGET, (
    f"registry over the driver budget: {len(_ORDER)} > {_DRIVER_ROW_BUDGET}"
)
assert set(_ORDER) == set(QUERIES), (
    "registry/_ORDER drift: "
    f"missing={sorted(set(QUERIES) - set(_ORDER))} "
    f"stale={sorted(set(_ORDER) - set(QUERIES))}"
)
_ordered_q = {n: QUERIES[n] for n in _ORDER}
QUERIES.clear()
QUERIES.update(_ordered_q)
_ordered_o = {n: ORACLES[n] for n in _ORDER if n in ORACLES}
ORACLES.clear()
ORACLES.update(_ordered_o)


def flagship(spark: SparkSession) -> DataFrame:
    """Driver smoke entry: the minimum end-to-end slice (SURVEY §7.2)."""
    return QUERIES["hist1d_weight"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Bench-only variants (round-10 VERDICT #3).  The CORRECTNESS registry
# above is untouched — one oracle chain over all legs stays the
# strength — but embedding_dedup_pipeline's kind='stream' leg is a
# real availableNow writeStream replay (~6-7 s of fixed streaming
# machinery per rep, not data-dependent) that made the batch-pipeline
# BENCH trend non-comparable across rounds (r9 4.26 s -> r10 10.29 s
# was the gated leg, not a regression).  bench.py times the batch
# legs via BENCH_VARIANTS and the replay separately via BENCH_EXTRAS
# (reported outside the headline total).
# ---------------------------------------------------------------------------

def _bench_embedding_stream(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    _, emb_tbl, new = _emb_gate_inputs(spark, sf_dir)
    return _embedding_stream_leg(spark, new, emb_tbl)


BENCH_VARIANTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_dedup_pipeline":
        lambda spark, sf_dir: _q_embedding_dedup_pipeline(
            spark, sf_dir, include_stream=False),
}

BENCH_EXTRAS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "embedding_stream_replay": _bench_embedding_stream,
}
