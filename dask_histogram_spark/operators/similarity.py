"""Similarity search over embedding columns (array<float>).

* :func:`brute_force_topk` — exact cosine top-k; the baseline.  Query
  side is broadcast (small), data side streams — no shuffle of the big
  table at all; per-row math is built-in ``zip_with``/``aggregate``
  expressions (JVM, codegen).
* :func:`ivf_topk` — the scale path: IVF-style bucketing.  Vectors are
  assigned to their nearest centroid once (narrow map); a query probes
  only the ``nprobe`` nearest centroid buckets, turning top-k from a
  full scan into a pruned equi-join on centroid id.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .localrel import local_relation

__all__ = ["brute_force_topk", "ivf_topk", "embedding_norms", "cosine_expr",
           "embedding_near_dup_pairs", "fit_centroids",
           "build_ivf_index", "ivf_topk_indexed", "load_ivf_centroids",
           "quantize_embeddings", "quantized_cosine_expr",
           "write_embedding_signature_table", "embedding_dedup_incremental",
           "load_embedding_signature_table", "auto_hyperplane_params",
           "auto_ivf_params", "calibrate_nprobe"]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


# --- SQL-text twins of the Column expression builders above ---------------
#
# Constructing the nested higher-order-function Columns costs a py4j
# round-trip per F.* call (~0.7 ms each); an IVF search builds several
# hundred of them per invocation, so plan CONSTRUCTION dominated the
# similarity_ivf_topk row (round-15 cProfile: 1.45 s of socket reads,
# 1,861 py4j commands per build).  Emitting the SAME expression as one
# SQL string costs ONE round-trip per projection.  The SQL spells the
# identical operation tree (`0.0D` keeps the fold seed a DOUBLE —
# a bare `0.0` would parse as DECIMAL(1,1)); row-equality with the
# Column form, including null / zero-vector / NaN rows, is pinned by
# tests/test_operators.py::test_ivf_sql_exprs_match_column_forms.

def _q(col: str) -> str:
    """Backtick-quote a column name for SQL-text composition."""
    return f"`{col}`"


def _dot_sql(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def _cast_double_sql(a: str) -> str:
    return f"transform({a}, v -> CAST(v AS DOUBLE))"


def _cosine_sql(a: str, b: str) -> str:
    """SQL text of :func:`cosine_expr` (same NULL-on-zero-magnitude
    rule via nullif)."""
    ad, bd = _cast_double_sql(a), _cast_double_sql(b)
    return (f"{_dot_sql(ad, bd)} / "
            f"nullif({_norm_sql(ad)} * {_norm_sql(bd)}, 0.0D)")


def _cent_sims_sql(c: str) -> str:
    """SQL text of :func:`_cent_sims` for a lambda/struct variable
    ``c`` with fields cvec/cnorm (reads the row's __vd/__vnorm)."""
    return (f"coalesce({_dot_sql('__vd', f'{c}.cvec')} / "
            f"nullif(__vnorm * {c}.cnorm, 0.0D), -2.0D)")


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (double math).

    Zero-magnitude vectors have undefined cosine: returns NULL (via
    nullif) instead of raising DIVIDE_BY_ZERO under ANSI mode — NULL
    then drops out of thresholds and ranks last in top-k, which is the
    useful semantic for an all-zeros (missing) embedding.
    """
    ad = F.transform(a, lambda v: v.cast("double"))
    bd = F.transform(b, lambda v: v.cast("double"))
    return _dot(ad, bd) / F.nullif(_norm(ad) * _norm(bd), F.lit(0.0))


def embedding_norms(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """(id, l2_norm, dim) — cheap sanity/statistics operator."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col),
        F.round(_norm(v), 6).alias("l2_norm"),
        F.size(F.col(vec_col)).alias("dim"),
    )


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     q_vec_col: str | None = None,
                     q_id_col: str | None = None,
                     method: str = "column") -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` is broadcast — the big side never shuffles; ranking is a
    per-query window over the (small) candidate scores.  Ties broken by
    neighbor id on the ROUNDED similarity so results are deterministic
    and reproducible against an oracle.
    Output: (query_id, neighbor_id, cos_sim, rank).

    ``method="column"`` (default) scores with pure Column folds —
    zero Python, right for modest dims.  ``method="arrow"`` collects
    the (small) query set to a numpy matrix captured by a
    ``mapInPandas`` kernel: each Arrow batch scores against ALL queries
    with one BLAS matmul and emits only its per-batch top-k per query,
    so the final per-query ranking window sees ≤ k·n_batches rows —
    the fast path for high-dim embeddings, where an unrolled fold
    expression per element stops fitting codegen.  Both methods return
    identical rows (tested).
    """
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    if method == "arrow":
        return _brute_force_topk_arrow(df, queries, k, vec_col, id_col,
                                       q_vec_col, q_id_col)
    if method != "column":
        raise ValueError(f"unknown method: {method!r}")
    q = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("__qv")
        )
    )
    scored = (
        df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v"))
        .join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("__qv"), F.col("__v")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _brute_force_topk_arrow(df: DataFrame, queries: DataFrame, k: int,
                            vec_col: str, id_col: str,
                            q_vec_col: str, q_id_col: str) -> DataFrame:
    """Arrow/BLAS scoring path of :func:`brute_force_topk`: one matmul
    per Arrow batch against the broadcast query matrix.

    Exactness contract with the column path: similarities are rounded
    HALF_UP (away from zero on ties — Spark ``F.round`` semantics, NOT
    numpy's banker's rounding), and per-batch survival keeps every row
    whose ROUNDED similarity ties the batch's (k+1)-th largest — so any
    row that could win a global (rounded DESC, id ASC) rank <= k
    necessarily survives its batch, and the final window returns rows
    identical to ``method="column"``."""
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select(q_id_col, q_vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    keep = k + 1  # +1: the query row itself may be in the batch

    def round_half_up(x: np.ndarray) -> np.ndarray:
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                                1e-300)
            sims = round_half_up(Qn @ Xn.T)  # (n_queries, batch)
            nb = sims.shape[1]
            rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            for qi in range(len(q_ids)):
                if nb > keep:
                    # inclusive threshold cut on the ROUNDED sims: rows
                    # tying the (k+1)-th value all survive, so rounding
                    # ties can never be dropped by batch truncation
                    thresh = np.partition(sims[qi], nb - keep)[nb - keep]
                    cand = np.nonzero(sims[qi] >= thresh)[0]
                else:
                    cand = np.arange(nb)
                rows["query_id"].extend([q_ids[qi]] * len(cand))
                rows["neighbor_id"].extend(ids[cand])
                rows["cos_sim"].extend(sims[qi, cand])
            yield pd.DataFrame(rows)

    scored = (
        df.select(id_col, vec_col)
        .mapInPandas(score, schema=out_schema)
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _centroid_literal_sql(centroids: np.ndarray) -> str | None:
    """SQL text of the constant centroid array-of-structs, or None for
    a non-finite matrix (which a SQL double literal cannot spell
    without a nullability-changing CAST — those take the F.lit path).

    ONE py4j round-trip (F.expr over a SQL string) instead of
    C x (dim + 3) F.lit/struct/alias calls: plan CONSTRUCTION is
    the dominant cost of a small-index search (round-15: 0.28 s
    -> 1.4 ms per literal at C=4/dim=64, and three literals are
    built per similarity_ivf_topk invocation).  repr()
    round-trips doubles exactly and the JVM parses them with
    Double.parseDouble — the literal is value- and
    schema-identical to the F.lit form (differentially checked,
    incl. signed zero and 1e±300)."""
    cents = centroids.astype(np.float64)
    cnorms = np.linalg.norm(cents, axis=1)
    if not (np.isfinite(cents).all() and np.isfinite(cnorms).all()):
        return None
    parts = []
    for i in range(cents.shape[0]):
        vec = ",".join(f"{float(x)!r}D" for x in cents[i])
        parts.append(
            f"named_struct('cid',{int(i)},'cvec',array({vec}),"
            f"'cnorm',{float(cnorms[i])!r}D)")
    return "array(" + ",".join(parts) + ")"


def _centroid_literal(centroids: np.ndarray):
    """(C, dim) numpy centroids as a CONSTANT array-of-structs Column
    literal with precomputed norms — the broadcast-free way to ship a
    small model to every task (argmin/argmax over it is a narrow map)."""
    sql = _centroid_literal_sql(centroids)
    if sql is not None:
        return F.expr(sql)
    cents = centroids.astype(np.float64)
    cnorms = np.linalg.norm(cents, axis=1)
    return F.array(*[
        F.struct(
            F.lit(int(i)).alias("cid"),
            F.array(*[F.lit(float(x)) for x in cents[i]]).alias("cvec"),
            F.lit(float(cnorms[i])).alias("cnorm"),
        )
        for i in range(cents.shape[0])
    ])


def _cent_sims(cent_struct: Column) -> Column:
    """cosine(__vd, centroid) using the row's precomputed __vnorm;
    zero vectors score below any real cosine."""
    return F.coalesce(
        _dot(F.col("__vd"), cent_struct["cvec"])
        / F.nullif(F.col("__vnorm") * cent_struct["cnorm"], F.lit(0.0)),
        F.lit(-2.0),
    )


def _with_vec_prep(src: DataFrame, id_col: str, out_id: str,
                   vec_col: str) -> DataFrame:
    return src.selectExpr(
        f"{_q(id_col)} AS {_q(out_id)}", _q(vec_col),
        f"{_cast_double_sql(_q(vec_col))} AS __vd",
    ).withColumn("__vnorm", F.expr(_norm_sql("__vd")))


def _with_vec_prep_column(src: DataFrame, id_col: str, out_id: str,
                          vec_col: str) -> DataFrame:
    """Column-API reference form of :func:`_with_vec_prep` (kept for
    the SQL-equivalence differential test)."""
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return src.select(
        F.col(id_col).alias(out_id), F.col(vec_col), vd.alias("__vd")
    ).withColumn("__vnorm", _norm(F.col("__vd")))


def _assign_cid(df: DataFrame, centroids: np.ndarray, id_col: str,
                vec_col: str) -> DataFrame:
    """(id, vec, cid): nearest centroid per vector — narrow map (argmax
    over the centroid literal; ties break to the smallest cid).

    Builds the whole argmax tree as ONE SQL expression (see the
    _dot_sql block comment); a non-finite centroid matrix falls back
    to the Column reference form."""
    cent_sql = _centroid_literal_sql(centroids)
    if cent_sql is None:
        return _assign_cid_column(df, _centroid_literal(centroids),
                                  id_col, vec_col)
    best = (f"array_max(transform({cent_sql}, c -> named_struct("
            f"'sim', {_cent_sims_sql('c')}, 'ncid', -c.cid)))")
    return (
        _with_vec_prep(df, id_col, id_col, vec_col)
        .withColumn("cid", F.expr(f"CAST(-({best}.ncid) AS INT)"))
        .select(id_col, vec_col, "cid")
    )


def _assign_cid_column(df: DataFrame, cent_lit, id_col: str,
                       vec_col: str) -> DataFrame:
    """Column-API reference form of :func:`_assign_cid` (non-finite
    centroid fallback + the SQL-equivalence differential test)."""
    best = F.array_max(
        F.transform(
            cent_lit,
            lambda c: F.struct(_cent_sims(c).alias("sim"),
                               (-c["cid"]).alias("ncid")),
        )
    )
    return (
        _with_vec_prep_column(df, id_col, id_col, vec_col)
        .withColumn("cid", (-best["ncid"]).cast("int"))
        .select(id_col, vec_col, "cid")
    )


def _probe_queries(queries: DataFrame, centroids: np.ndarray,
                   nprobe: int, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, __qv, cid) — each query exploded to its nprobe
    nearest buckets (same narrow map as assignment, sorted + sliced).
    One-SQL-expression build, Column fallback for non-finite matrices
    (see :func:`_assign_cid`)."""
    cent_sql = _centroid_literal_sql(centroids)
    if cent_sql is None:
        return _probe_queries_column(queries, _centroid_literal(centroids),
                                     nprobe, id_col, vec_col)
    probes = (f"slice(array_sort(transform({cent_sql}, "
              f"c -> named_struct('d', -({_cent_sims_sql('c')}), "
              f"'cid', c.cid))), 1, {int(nprobe)})")
    return (
        _with_vec_prep(queries, id_col, "query_id", vec_col)
        .select("query_id", F.col(vec_col).alias("__qv"),
                F.explode(F.expr(f"{probes}.cid")).alias("cid"))
    )


def _probe_queries_column(queries: DataFrame, cent_lit, nprobe: int,
                          id_col: str, vec_col: str) -> DataFrame:
    """Column-API reference form of :func:`_probe_queries`."""
    probes = F.slice(
        F.array_sort(
            F.transform(
                cent_lit,
                lambda c: F.struct((-_cent_sims(c)).alias("d"),
                                   c["cid"].alias("cid")),
            )
        ),
        1, nprobe,
    )
    return (
        _with_vec_prep_column(queries, id_col, "query_id", vec_col)
        .select("query_id", F.col(vec_col).alias("__qv"),
                F.explode(probes["cid"]).alias("cid"))
    )


# Above this many literal doubles (C x dim), the unrolled centroid
# expression stops being "free narrow map" and becomes a PLAN-SIZE
# wall: Catalyst analysis + codegen of the argmax tree scale with
# C x dim, measured at 100k rows / dim 64 as 13 s (C=64) -> 24 s
# (C=256) -> 96 s (C=1024) of BUILD wall that never touches data
# (round-11 10M ladder finding).  The Arrow kernels below broadcast
# the centroid matrix once and replace the tree with one BLAS matmul
# per batch — the same sims, argmax tie-to-smallest-cid, and
# degenerate-row rules (zero/short/null vector -> every sim -2.0 ->
# cid 0) as the Column path, differentially tested.  Float caveat:
# BLAS sums in a different order than the left-to-right Column fold,
# so two centroids within ~1 ulp of a tie could assign differently —
# vanishing for real embeddings, and irrelevant to search results
# (both sides of the tie are equally near).
_CENTROID_LITERAL_MAX = 8192


def _cent_sims_matrix(vs, C: "np.ndarray", cn: "np.ndarray",
                      dim: int) -> "np.ndarray":
    """(batch, C) cosine matrix for a pandas Series of vectors,
    mirroring _cent_sims' degenerate rules: a null/short/zero vector
    scores -2.0 against every centroid."""
    rows = len(vs)
    sims = np.full((rows, C.shape[0]), -2.0)
    ok, mats = [], []
    for i, v in enumerate(vs):
        if v is not None and len(v) == dim:
            a = np.asarray(v, dtype=np.float64)
            if not np.isnan(a).any():
                ok.append(i)
                mats.append(a)
    if mats:
        X = np.vstack(mats)
        xn = np.linalg.norm(X, axis=1)
        denom = xn[:, None] * cn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom > 0, (X @ C.T) / denom, -2.0)
        sims[np.asarray(ok)] = s
    return sims


def _assign_cid_arrow(df: DataFrame, centroids: np.ndarray,
                      id_col: str, vec_col: str) -> DataFrame:
    """Arrow twin of :func:`_assign_cid` for large centroid sets."""
    import pandas as pd

    C = centroids.astype(np.float64)
    cn = np.linalg.norm(C, axis=1)
    dim = C.shape[1]
    bc = df.sparkSession.sparkContext.broadcast((C, cn))

    @F.pandas_udf("int")
    def cid_of(vs: pd.Series) -> pd.Series:
        Cm, cnm = bc.value
        sims = _cent_sims_matrix(vs, Cm, cnm, dim)
        # np.argmax takes the FIRST max — ties to the smallest cid,
        # exactly the Column path's (sim, -cid) struct-max rule
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return df.select(F.col(id_col), F.col(vec_col),
                     cid_of(F.col(vec_col)).alias("cid"))


def _probe_queries_arrow(queries: DataFrame, centroids: np.ndarray,
                         nprobe: int, id_col: str,
                         vec_col: str) -> DataFrame:
    """Arrow twin of :func:`_probe_queries`: per-query nprobe nearest
    cids (descending sim, ties to the smallest cid — argsort over
    (-sim, cid) matches the Column array_sort on (-sim, cid))."""
    import pandas as pd

    C = centroids.astype(np.float64)
    cn = np.linalg.norm(C, axis=1)
    dim = C.shape[1]
    bc = queries.sparkSession.sparkContext.broadcast((C, cn))
    np_ = min(int(nprobe), C.shape[0])

    @F.pandas_udf("array<int>")
    def probes_of(vs: pd.Series) -> pd.Series:
        Cm, cnm = bc.value
        sims = _cent_sims_matrix(vs, Cm, cnm, dim)
        # stable sort on -sim: equal sims keep index (= cid) order
        order = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
        return pd.Series([row.astype(np.int32).tolist()
                          for row in order])

    return (queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        probes_of(F.col(vec_col)).alias("__probes"))
        .select("query_id", "__qv", F.explode("__probes").alias("cid")))


def _score_pairs(index: DataFrame, q_assigned: DataFrame,
                 id_col: str, vec_col: str) -> DataFrame:
    """(query_id, neighbor_id, cos_sim) for every probed (query,
    vector) pair — :func:`_score_and_rank` minus the ranking window,
    so a caller searching SEVERAL layouts of one index (the
    similarity_ivf_topk shape) can union the scored legs and pay ONE
    rank exchange instead of one per leg (row-identical: row_number
    partitioned by (leg, query_id) == per-leg row_number by query_id).
    """
    return (
        index.join(F.broadcast(q_assigned), on="cid")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            # one parsed SQL string — the round-tripping Column form
            # (F.round(cosine_expr(...), 6)) cost ~70 ms of py4j per
            # call (see the _dot_sql block comment)
            F.expr(f"round({_cosine_sql('__qv', _q(vec_col))}, 6)")
            .alias("cos_sim"),
        )
    )


def rank_topk(scored: DataFrame, k: int,
              extra_partition_cols: tuple = ()) -> DataFrame:
    """row_number-rank scored pairs (desc cos_sim, asc neighbor_id),
    keep rank <= k.  ``extra_partition_cols`` prepend to the window
    key (e.g. a leg tag when several scored legs were unioned)."""
    w = Window.partitionBy(*extra_partition_cols, "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _score_and_rank(index: DataFrame, q_assigned: DataFrame, k: int,
                    id_col: str, vec_col: str) -> DataFrame:
    return rank_topk(_score_pairs(index, q_assigned, id_col, vec_col), k)


def _memoized_probe_rows(queries: DataFrame, q_assigned: DataFrame,
                         centroids: np.ndarray, nprobe: int,
                         id_col: str, vec_col: str):
    """(rows, local DataFrame) of the probe assignment, collected ONCE
    per (queries plan, centroid matrix, nprobe) — the assignment is a
    pure function of those, NOT of any index path, so searching
    several layouts of one index build (base + quantized, the
    similarity_ivf_topk shape), the inline leg of the same search, or
    a steady-state re-search all reuse one collect.  Same memo
    contract as every guard probe (immutable inputs;
    clear_probe_memo after an in-place rewrite)."""
    from .sizing import memoized_probe

    q_rows = memoized_probe(
        queries,
        ("ivf_assign", int(nprobe), id_col, vec_col,
         centroids.shape, hash(centroids.tobytes())),
        q_assigned.collect)
    spark = queries.sparkSession
    return q_rows, local_relation(spark, q_rows, q_assigned.schema)


def ivf_topk(df: DataFrame, queries: DataFrame, centroids: np.ndarray,
             k: int = 5, nprobe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id", ranked: bool = True) -> DataFrame:
    """Approximate top-k via IVF bucketing.

    ``centroids`` is a (C, dim) numpy array (e.g. from a driver-side
    k-means over a sample).  Index build = one narrow pass assigning
    each vector to its nearest centroid (the centroids embed as a
    CONSTANT literal, so the vectors never leave their input
    partitions — no crossJoin, no exchange); search joins queries
    (each expanded to its ``nprobe`` nearest centroids) to bucketed
    vectors on centroid id.  For a REUSABLE on-disk index see
    :func:`build_ivf_index` / :func:`ivf_topk_indexed`.
    Output: (query_id, neighbor_id, cos_sim, rank).
    """
    if centroids.size > _CENTROID_LITERAL_MAX:
        assigned = _assign_cid_arrow(df, centroids, id_col, vec_col)
        q_assigned = _probe_queries_arrow(queries, centroids, nprobe,
                                          id_col, vec_col)
    else:
        assigned = _assign_cid(df, centroids, id_col, vec_col)
        q_assigned = _probe_queries(queries, centroids, nprobe,
                                    id_col, vec_col)
    # the probe side is broadcast into the score join either way, so
    # its size is driver-bound by construction — collect it through
    # the SAME memo key as ivf_topk_indexed (a pure function of
    # (queries plan, centroids, nprobe)): the inline and indexed legs
    # of one search session share one probe evaluation, and repeat
    # searches skip the probe job + broadcast build entirely
    q_local = _memoized_probe_rows(queries, q_assigned, centroids,
                                   nprobe, id_col, vec_col)[1]
    if not ranked:
        return _score_pairs(assigned, q_local, id_col, vec_col)
    return _score_and_rank(assigned, q_local, k, id_col, vec_col)


def _quantize_cols(vec_col: str, elem_type: str = "int",
                   scale_ref: Column | None = None):
    """(scale, qvec) Columns of the symmetric int8 quantization of
    ``vec_col`` — shared by :func:`quantize_embeddings` (int elements,
    oracle-friendly) and the quantized IVF index (tinyint elements,
    1 byte/component on disk and in Tungsten rows).

    ``scale_ref``: pass a reference to an already-MATERIALIZED scale
    column to use inside the per-element division — the default embeds
    the O(dim) amax fold in the lambda body, where the interpreted HOF
    evaluator recomputes it per element (O(dim^2)/row; fine for small
    gate tables, wasteful on a data-scale index build)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = amax / F.lit(127.0)
    s = scale if scale_ref is None else scale_ref
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.round(x / F.nullif(s, F.lit(0.0)), 0), F.lit(0.0)
        ).cast(elem_type),
    )
    return scale, q


def build_ivf_index(df: DataFrame, centroids: np.ndarray, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    quantize: bool = False,
                    cluster_output: bool = True) -> None:
    """Materialize the IVF assignment as a parquet table PARTITIONED by
    centroid id — the persisted form of :func:`ivf_topk`'s inline
    assignment.  Pre-pays the (narrow) assignment pass once, and —
    the actual 100 TB win — lets every subsequent search read ONLY its
    probed buckets from disk: :func:`ivf_topk_indexed` turns the probe
    set into a static partition filter, so the scan touches
    ~nprobe/C of the files (plan-asserted in
    tests/test_operators.py::test_ivf_indexed_matches_inline).

    The centroid matrix is persisted WITH the index (an
    underscore-prefixed sidecar, invisible to the main parquet read):
    probing with different centroids than the ones that assigned the
    buckets would silently collapse recall, so the search loads the
    stored matrix by default instead of trusting the caller to pass
    the same array twice.

    ``quantize=True`` stores symmetric-int8 vectors (per-vector
    ``scale`` double + ``qvec: array<tinyint>``) instead of the float
    array — ~4x smaller scan at 100 TB for <0.5%/component
    reconstruction error; :func:`ivf_topk_indexed` detects the
    quantized layout from the schema and dequantizes inside the scan
    projection, so scoring/ranking code is shared.  Results are
    APPROXIMATE relative to a float index (rank swaps possible among
    near-tied neighbors); recall is gated in
    tests/test_operators.py::test_ivf_quantized_index.

    ``cluster_output=True`` (default) hash-repartitions the
    assignment on ``cid`` before the partitioned write.  The
    assignment itself is a narrow map (the search-leg plan contract),
    but writing it DIRECTLY under ``partitionBy("cid")`` fans every
    input task across every bucket directory — tasks x C small files
    (the round-11 10M-vector ladder measured the probe read's wall
    dominated by listing/opening them).  One exchange on cid at build
    time lands exactly one file per bucket, which is what the
    partition-pruned probe read wants at any scale; disable only for
    a small throwaway index where the shuffle outweighs the listing.
    """
    if centroids.size > _CENTROID_LITERAL_MAX:
        assigned = _assign_cid_arrow(df, centroids, id_col, vec_col)
    else:
        assigned = _assign_cid(df, centroids, id_col, vec_col)
    if quantize:
        scale, _ = _quantize_cols(vec_col, elem_type="tinyint")
        # scale materialized in its own projection, then referenced by
        # the element lambda — not recomputed per element
        assigned = assigned.withColumn("scale", scale)
        _, q = _quantize_cols(vec_col, elem_type="tinyint",
                              scale_ref=F.col("scale"))
        # NULL-element parity with the float layout: quantizing a
        # null component to 0 would turn an unscorable vector (NULL
        # cosine) into a scorable one; store NULL scale/qvec instead,
        # so dequantization yields NULL and the cosine is NULL in
        # both layouts
        has_null = F.exists(F.col(vec_col), lambda x: x.isNull())
        assigned = assigned.select(
            F.col(id_col),
            F.when(~has_null, F.col("scale")).alias("scale"),
            F.when(~has_null, q).alias("qvec"),
            "cid")
    if cluster_output:
        assigned = assigned.repartition("cid")
    (
        assigned
        # force STATIC overwrite: under a session-level
        # partitionOverwriteMode=dynamic, a rebuild with a different
        # centroid set would leave stale cid=... directories from the
        # old assignment next to the replaced _centroids sidecar, and
        # searches would silently score vectors bucketed by the old
        # centroids — the whole path must be replaced atomically.
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cid").parquet(path)
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(int(i), [float(x) for x in centroids[i]])
         for i in range(centroids.shape[0])],
        "cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_centroids")
    # a rebuild at the same path must invalidate the memoized read
    # plan (its cached file listing points at the replaced files)
    _INDEX_READ_CACHE.pop((spark.sparkContext.applicationId, path), None)


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    """The centroid matrix stored by :func:`build_ivf_index`."""
    rows = spark.read.parquet(f"{path}/_centroids") \
        .orderBy("cid").collect()
    return np.array([r.cvec for r in rows], dtype=np.float64)


_INDEX_READ_CACHE: dict = {}


def _index_read(spark, path: str) -> DataFrame:
    """The index's base read plan, memoized per (session, path): the
    parquet file listing is a driver-side py4j/listing cost per call
    (~0.13 s at sf0.1) on a table that is immutable for the session
    (:func:`build_ivf_index` invalidates the entry when it rewrites
    the path).  A plan, not data — every action still scans parquet."""
    key = (spark.sparkContext.applicationId, path)
    df = _INDEX_READ_CACHE.get(key)
    if df is None:
        if len(_INDEX_READ_CACHE) > 64:
            _INDEX_READ_CACHE.clear()
        df = spark.read.parquet(path)
        _INDEX_READ_CACHE[key] = df
    return df


def ivf_topk_indexed(path: str, queries: DataFrame,
                     centroids: np.ndarray | None = None,
                     k: int = 5, nprobe: int = 2,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     ranked: bool = True) -> DataFrame:
    """Search a persisted IVF index (:func:`build_ivf_index`).

    Probing uses the centroid matrix STORED with the index (pass
    ``centroids`` only to override, e.g. for a what-if probe study —
    mismatched centroids silently degrade recall, which is why the
    stored matrix is the default).  The probe assignment (query id,
    vector, probed cid — broadcast-small by construction: n_queries x
    nprobe rows) is computed ONCE and collected: the distinct cids
    become a STATIC ``cid IN (...)`` partition filter on the index
    read, and the collected rows are rebuilt as a local DataFrame for
    the join — one evaluation, so a non-deterministic ``queries`` plan
    cannot diverge between the filter and the join.  Scoring and
    ranking are identical to :func:`ivf_topk`.  Returns the same
    (query_id, neighbor_id, cos_sim, rank) rows.
    """
    spark = queries.sparkSession
    if centroids is None:
        centroids = load_ivf_centroids(spark, path)
    if centroids.size > _CENTROID_LITERAL_MAX:
        q_assigned = _probe_queries_arrow(queries, centroids, nprobe,
                                          id_col, vec_col)
    else:
        q_assigned = _probe_queries(queries, centroids, nprobe,
                                    id_col, vec_col)
    q_rows, q_local = _memoized_probe_rows(queries, q_assigned,
                                           centroids, nprobe,
                                           id_col, vec_col)
    probe_cids = sorted({r.cid for r in q_rows})
    index = _index_read(spark, path).where(F.col("cid").isin(probe_cids))
    if {"qvec", "scale"} <= set(index.columns) and vec_col not in index.columns:
        # quantized layout (build_ivf_index(quantize=True)): dequantize
        # inside the scan projection — the pruned read ships 1-byte
        # components, the scoring math is unchanged
        index = index.withColumn(
            vec_col,
            F.expr("transform(qvec, x -> CAST(x AS DOUBLE) * scale)"),
        )
    if not ranked:
        return _score_pairs(index, q_local, id_col, vec_col)
    return _score_and_rank(index, q_local, k, id_col, vec_col)


def _empty_pairs(df: DataFrame, id_col: str) -> DataFrame:
    return local_relation(
        df.sparkSession, [], T.StructType([
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]))


def _sequential_dots(X: "np.ndarray", Ht: "np.ndarray") -> "np.ndarray":
    """(n, planes) hyperplane dots by TERM-BY-TERM accumulation over
    the vector components — reproduces the Column fold's sequential
    float64 adds exactly (a BLAS matmul's pairwise summation could
    flip a sign on a near-zero dot).  ONE definition shared by the
    probed and unprobed Arrow kernels: the persisted table is written
    by one and probed through the other, so a drifted accumulation
    would silently report every vector as fresh — with no formula-tag
    mismatch to catch it."""
    acc = np.zeros((X.shape[0], Ht.shape[1]))
    for j in range(X.shape[1]):
        acc += X[:, j, None] * Ht[None, j, :]
    return acc


def _dot_fold(v: Column, h) -> Column:
    """Column twin of one plane of :func:`_sequential_dots`: the same
    left-to-right sequential adds as an F.aggregate fold."""
    return F.aggregate(
        F.zip_with(v, F.array(*[F.lit(float(x)) for x in h]),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, z: acc + z)


def _sign_bit(dot: Column) -> Column:
    """'1' iff the dot is a non-NULL, non-NaN value >= 0 — pinned to
    the Arrow kernel's numpy semantics (``NaN >= 0`` is False), where
    a NULL ELEMENT and a float NaN ELEMENT are indistinguishable
    after coercion: both give NaN dots and the all-'0' signature.
    Spark and DuckDB comparisons order NaN ABOVE zero, so a bare
    ``dot >= 0`` would emit '1' there and silently diverge from the
    production Arrow path on NaN-element vectors (the oracle's CASE
    carries the same isnan guard)."""
    return F.when((dot >= 0) & ~F.isnan(dot),
                  F.lit("1")).otherwise(F.lit("0"))


def _hyperplane_banded_probed(df: DataFrame, vec_col: str, id_col: str,
                              Hs: list, planes: int, method: str,
                              probes: int) -> DataFrame:
    """Multi-probe band rows (id, vec, __rep, __probe, __sig): per
    (vector, rep) the base signature (``__probe = 0``) plus ``probes``
    variants with the t-th lowest-|dot| bit flipped.  Margin ranking
    is a STABLE ascending sort of |dot| with NULL/NaN margins last
    (Arrow: numpy NaN-last stable argsort; Column: coalesce(abs, inf)
    inside a (margin, index) struct sort) so both methods — and the
    DuckDB oracle's list_position-of-min form at probes=1 — flip the
    identical bit, including on degenerate null-element vectors."""
    if method == "arrow":
        Hts = [H.T.copy() for H in Hs]

        @F.pandas_udf(T.ArrayType(T.ArrayType(T.StringType())))
        def sigs_probed(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            X = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
            out = [[] for _ in range(len(vecs))]
            for Ht in Hts:
                acc = _sequential_dots(X, Ht)
                bits = (acc >= 0)  # NaN -> False (see _sign_bit)
                order = np.argsort(np.abs(acc), axis=1, kind="stable")
                for i in range(len(vecs)):
                    row = bits[i]
                    s_list = ["".join("1" if b else "0" for b in row)]
                    for t in range(probes):
                        fl = row.copy()
                        fl[order[i, t]] = ~fl[order[i, t]]
                        s_list.append(
                            "".join("1" if b else "0" for b in fl))
                    out[i].append(s_list)
            return pd.Series(out)

        sigs = sigs_probed(F.col(vec_col))
    else:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

        def rep_sigs(H) -> Column:
            dots = F.array(*[_dot_fold(v, H[p]) for p in range(planes)])

            def bit(p: int) -> Column:
                return _sign_bit(F.element_at(dots, p + 1))

            base = F.concat(*[bit(p) for p in range(planes)])
            # NaN margins stay NaN through abs (coalesce catches NULL
            # only) and Spark sorts NaN above every double — the same
            # sort-last the Arrow kernel's numpy argsort applies
            order = F.array_sort(F.array(*[
                F.struct(
                    F.coalesce(F.abs(F.element_at(dots, p + 1)),
                               F.lit(float("inf"))).alias("a"),
                    F.lit(p).alias("i"))
                for p in range(planes)
            ]))
            out = [base]
            for t in range(probes):
                fi = F.element_at(order, t + 1).getField("i")
                out.append(F.concat(*[
                    F.when(F.lit(p) == fi,
                           F.when(bit(p) == "1",
                                  F.lit("0")).otherwise(F.lit("1")))
                    .otherwise(bit(p))
                    for p in range(planes)
                ]))
            return F.array(*out)

        sigs = F.array(*[rep_sigs(H) for H in Hs])

    return df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(sigs).alias("__rep", "__sigs"),
    ).select(
        F.col(id_col), F.col(vec_col), "__rep",
        F.posexplode("__sigs").alias("__probe", "__sig"),
    )


def _hyperplane_banded(df: DataFrame, vec_col: str, id_col: str,
                       planes: int, seed: int, repetitions: int,
                       method: str, dim: int | None = None,
                       probes: int = 0):
    """(id, vec, __rep, __sig) hyperplane-LSH band rows — the shared
    signature stage behind :func:`embedding_near_dup_pairs` (in-query
    self-join) and :func:`write_embedding_signature_table` /
    :func:`embedding_dedup_incremental` (persisted cross-run form).

    ``dim`` defaults to the first non-null vector's length; a
    persisted-table READER pins it from the sidecar instead, so a
    batch whose probe row happens to have a different dimensionality
    cannot silently band against nothing.  Returns ``(banded, dim)``
    — the RESOLVED dim, so callers that persist it (the signature
    table's sidecar) can never record a different value than the one
    actually banded with — or ``(None, None)`` for an empty/all-null
    input.  NULL and wrong-dimension vectors are excluded (their
    cosine is NULL — they can never verify).

    ``probes > 0`` enables MULTI-PROBE on the QUERY side (Lv et al.,
    VLDB 2007, multi-probe LSH): each (vector, rep) additionally
    emits ``probes`` signatures with its t-th lowest-|margin| bit
    flipped — the bits most likely to disagree with a true
    near-duplicate's signature, since sign flips concentrate where
    the hyperplane dot is near zero.  A probed QUERY against an
    UNPROBED corpus table buys per-rep recall comparable to extra
    repetitions without growing the persisted table (the 100 TB
    index-size lever; see BASELINE.md).  Probe rows carry a
    ``__probe`` column (0 = the base signature) so stateful consumers
    can exclude them; the flip index tie-breaks deterministically
    (stable ascending |dot|, NULL/NaN margins sort LAST) across the
    Arrow kernel, the Column twin and the SQL oracle.
    """
    if method == "auto":
        method = "arrow"
    if method not in ("arrow", "column"):
        raise ValueError(f"unknown signature method: {method!r}")
    if not 0 <= probes < planes:
        raise ValueError(f"probes must be in [0, planes); got {probes}")
    if dim is None:
        head = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if head is None:
            return None, None
        dim = len(head[0])
    df = df.where(F.col(vec_col).isNotNull()
                  & (F.size(F.col(vec_col)) == dim))
    Hs = [np.random.default_rng(seed + i).standard_normal((planes, dim))
          for i in range(repetitions)]
    if probes:
        return _hyperplane_banded_probed(df, vec_col, id_col, Hs, planes,
                                         method, probes), dim

    if method == "arrow":
        Hts = [H.T.copy() for H in Hs]  # (dim, planes), float64

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def sigs_arrow(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:
                return pd.Series([], dtype=object)
            # a NULL ELEMENT inside a dim-sized array survives the
            # dimension filter; np.asarray coerces None -> NaN, every
            # plane dot goes NaN, and the sign test (NaN >= 0 is
            # False) emits the same all-'0' signature as the Column
            # twin's _sign_bit (pinned by
            # test_near_dup_null_element_vector)
            X = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
            out = [[] for _ in range(len(vecs))]
            for Ht in Hts:
                bits = np.where(_sequential_dots(X, Ht) >= 0, "1", "0")
                for i, s_ in enumerate("".join(r) for r in bits):
                    out[i].append(s_)
            return pd.Series(out)

        sigs = sigs_arrow(F.col(vec_col))
    else:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))

        def one_sig(H) -> Column:
            return F.concat(*[_sign_bit(_dot_fold(v, H[p]))
                              for p in range(planes)])

        sigs = F.array(*[one_sig(H) for H in Hs])

    return df.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(sigs).alias("__rep", "__sig"),
    ), dim


# Version tag for the hyperplane signature formula (see dedup.py's
# _SIG_FORMULA for the rationale: same params + drifted formula would
# silently report every vector as fresh).
_EMB_SIG_FORMULA = "hyperplane-v1"


def write_embedding_signature_table(df: DataFrame, table: str,
                                    vec_col: str = "embedding",
                                    id_col: str = "vec_id",
                                    planes: int = 16, seed: int = 23,
                                    repetitions: int | None = None,
                                    method: str = "auto",
                                    n_buckets: int = 64,
                                    max_bucket: int | None = None,
                                    path: str | None = None,
                                    design_cos: float = 0.99) -> None:
    """Persist a corpus's hyperplane-LSH band rows as the cross-run
    "seen" table for :func:`embedding_dedup_incremental` — the
    embedding-modality twin of
    :func:`~.dedup.write_signature_table`: rows of (id, vec, rep,
    sig) BUCKETED on (rep, sig), so every nightly batch band-joins
    against it with no exchange on the seen side.  The float vector is
    denormalized into each band row (repetitions x dim floats per
    vector) so the exact-cosine verify runs off the same join.

    Same crash-window protocol as the text table: the ``__params``
    sidecar (formula tag, planes, seed, repetitions, dim) is DROPPED
    before the data write and recreated after it — a killed rebuild
    leaves a sidecar-less table the reader rejects loudly.
    ``max_bucket`` drops degenerate buckets at write time (e.g. the
    all-zeros signature of a mass of near-zero vectors); what it
    dropped is recorded in the sidecar as (n_capped_buckets,
    max_bucket_size, n_dropped_rows) — NULL when uncapped.

    ``planes="auto"`` sizes (planes, repetitions) from the corpus via
    :func:`auto_hyperplane_params` (recall target at ``design_cos``,
    default 0.99); the RESOLVED integers land in the sidecar, so
    probing readers need no knowledge of how they were chosen.
    ``repetitions=None`` (default) derives the count under auto (1
    otherwise); an explicit integer — including 1, to bound the
    rep x dim denormalized vector storage — is always honored."""
    spark = df.sparkSession
    from .sizing import check_shuffle_scratch, scratch_budget

    # the build exchange is the single-sided twin of the in-query
    # self-join's (n x reps band rows carrying the denormalized
    # vector cross the bucketing shuffle once, PLUS the pre-band
    # repartition that spreads the raw corpus — its n vector-sized
    # shuffle files coexist with the bucketing shuffle's on the same
    # volume, so the true footprint is n x (reps + 1) rows; at
    # repetitions=1, the remedy the error itself suggests, omitting it
    # would halve the estimate — round-12 ADVICE) — preflight it with
    # the same model BEFORE dropping the sidecar, so an over-budget
    # rebuild fails fast without invalidating the existing table.
    # One agg job covers the row count AND the dimension/empty probe
    # over NON-null vectors (the banded path excludes nulls, so
    # counting them would spuriously refuse a mostly-null corpus near
    # the budget line — round-12 ADVICE).
    budget_known = scratch_budget(spark) is not None
    n_rows = dim = None
    if planes == "auto" or budget_known:
        # one memoized probe job: non-null count (the only rows that
        # cross — nulls are filtered before the repartition below)
        # and the vector dimension
        n_rows, _, dim = _embedding_probe(df, vec_col)
    planes, repetitions = _resolve_hyperplane_params(
        df, planes, repetitions, design_cos=design_cos, n_rows=n_rows)
    if dim is None:
        # probe BEFORE dropping the sidecar: an empty/all-null rebuild
        # input must fail without invalidating the existing (still
        # valid) table; the sidecar-less crash window is reserved for
        # failures of the data write itself.  (Reached either because
        # no agg probe ran — explicit planes, unknown budget — or
        # because the probe saw only nulls, in which case this raises.)
        head = (df.where(F.col(vec_col).isNotNull())
                .select(vec_col).first())
        if head is None:
            raise ValueError(
                "cannot build a signature table from an empty/all-null "
                "corpus")
        dim = len(head[0])
    dim = int(dim)
    if budget_known:
        elem = df.schema[vec_col].dataType.elementType
        elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
        check_shuffle_scratch(
            spark,
            int(n_rows) * (int(repetitions) + 1)
            * (elem_bytes * dim + _BAND_ROW_OVERHEAD_BYTES),
            what=(f"write_embedding_signature_table's build shuffles "
                  f"(pre-band repartition + bucketing; n={n_rows:,}, "
                  f"dim={dim}, planes={planes}, "
                  f"repetitions={repetitions})"),
            remedies=(
                "pass an explicit repetitions= to bound the stored "
                "tables (probes= on the incremental reader restores "
                "recall query-side at half the rows — see "
                "auto_hyperplane_params' storage note)",
            ))
    spark.sql(f"DROP TABLE IF EXISTS {table}__params")
    # spread the Python signature kernel across the cluster — the
    # corpus often arrives in a handful of scan partitions (same
    # rationale as minhash_lsh_candidates' pre-fold repartition).
    # Null vectors are dropped BEFORE the repartition: the banded path
    # excludes them anyway, so letting them cross the exchange would
    # only ship dead framing bytes (a mostly-null corpus near the
    # budget line would pay for rows that produce nothing — round-13
    # ADVICE modeled that cost; round-14 removes it instead).
    nparts = max(spark.sparkContext.defaultParallelism * 2, 16)
    nonnull = df.where(F.col(vec_col).isNotNull())
    banded, _ = _hyperplane_banded(nonnull.repartition(nparts), vec_col,
                                   id_col, planes, seed, repetitions,
                                   method, dim=dim)
    banded = banded.select(
        F.col(id_col), F.col(vec_col),
        F.col("__rep").alias("rep"), F.col("__sig").alias("sig"))
    obs = None
    if max_bucket is not None:
        from pyspark.sql import Observation

        # record the cap's by-design misses in the sidecar, collected
        # for free during the write action (see the text twin
        # write_signature_table for the Observation + reciprocal-sum
        # bucket-count trick)
        w = Window.partitionBy("rep", "sig")
        banded = banded.withColumn("__n", F.count(F.lit(1)).over(w))
        obs = Observation()
        banded = banded.observe(
            obs,
            F.sum(F.when(F.col("__n") > max_bucket,
                         F.lit(1.0) / F.col("__n"))).alias("capped_f"),
            F.max("__n").alias("mx"),
            F.sum((F.col("__n") > max_bucket).cast("long"))
            .alias("dropped"),
        )
        banded = banded.where(F.col("__n") <= max_bucket).drop("__n")
    from ..sources import write_bucketed

    write_bucketed(banded, table, ["rep", "sig"], n_buckets, path=path)
    cap_stats = (None, None, None)
    if obs is not None:
        m = obs.get
        cap_stats = (int(round(m["capped_f"] or 0.0)),
                     int(m["mx"] or 0), int(m["dropped"] or 0))
    pw = spark.createDataFrame(
        [(_EMB_SIG_FORMULA, int(planes), int(seed), int(repetitions),
          int(dim), *cap_stats)],
        "formula string, planes int, seed int, repetitions int, dim int, "
        "n_capped_buckets bigint, max_bucket_size bigint, "
        "n_dropped_rows bigint",
    ).write.mode("overwrite")
    if path is not None:
        pw = pw.option("path", f"{path}__params")
    pw.saveAsTable(f"{table}__params")
    # a rewritten sidecar must not serve a stale memoized row
    from .sizing import invalidate_params_memo

    invalidate_params_memo(df.sparkSession, table)


def load_embedding_signature_table(spark, table: str):
    """Open a :func:`write_embedding_signature_table` table by NAME
    with the loud safety checks every reader needs — the embedding
    twin of :func:`~.dedup.load_signature_table`: an existing-but-
    empty ``__params`` sidecar (interrupted write) and a drifted
    projection formula both raise with rebuild guidance, because
    either would otherwise make every probing vector silently report
    as fresh.  Returns ``(banded DataFrame, (planes, seed,
    repetitions, dim))``."""
    from .sizing import memoized_params_row

    def load():
        rows = spark.table(f"{table}__params").collect()
        if not rows:
            raise ValueError(
                f"embedding signature table {table!r} has an EMPTY "
                "__params sidecar (an interrupted write left the table "
                "in an unusable state) — rebuild it with "
                "write_embedding_signature_table."
            )
        p = rows[0]
        stored = getattr(p, "formula", None)
        if stored != _EMB_SIG_FORMULA:
            raise ValueError(
                f"embedding signature table {table!r} was written "
                f"with formula {stored!r}; this reader computes "
                f"{_EMB_SIG_FORMULA!r} — signatures from different "
                "formulas never match (every vector would silently "
                "report as fresh).  Rebuild the table with "
                "write_embedding_signature_table.")
        return (p.planes, p.seed, p.repetitions, p.dim)

    # params memoized per (session, table); writers invalidate on
    # rewrite, and the table DataFrame stays a fresh catalog lookup
    params = memoized_params_row(spark, table, load)
    return spark.table(table), params


def embedding_dedup_incremental(new_df: DataFrame, seen_banded, /,
                                threshold: float = 0.95,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id",
                                planes: int = 16, seed: int = 23,
                                repetitions: int = 1,
                                method: str = "auto",
                                probes: int = 0,
                                base_counts: bool = False) -> DataFrame:
    """Cross-run embedding near-dup gate: for every vector of a new
    batch, how many seen vectors it near-duplicates (exact cosine >=
    ``threshold`` among hyperplane-LSH candidates) — the embedding
    twin of :func:`~.dedup.dedup_incremental_lsh`.

    Pass the signature table's NAME (safe default: parameters AND the
    vector dimension load from the ``__params`` sidecar, with a loud
    formula-version check) or a DataFrame escape hatch.  The candidate
    join keys on the table's bucketed (rep, sig) columns — no seen-
    side exchange; the exact cosine is computed on the joined band row
    and max-reduced per pair, so vectors never travel through an extra
    shuffle.  Returns (id, n_matched_seen); 0 = fresh.

    ``probes > 0`` multi-probes the BATCH side (see
    :func:`_hyperplane_banded`): each new vector also joins under its
    ``probes`` lowest-margin bit-flip signatures, recovering
    candidates a single-bit sign flip would miss — per-rep recall
    comparable to extra repetitions WITHOUT growing the persisted
    table (whose size is corpus x repetitions x dim).  Candidates are
    a superset of the unprobed ones; the exact-cosine verify and the
    per-pair max-reduce keep counts duplicate-free.

    ``base_counts=True`` (requires ``probes > 0``) additionally
    returns ``n_matched_seen_base`` — the count the SAME call with
    ``probes=0`` would have produced (pairs whose candidate arose
    from a base ``__probe = 0`` signature; probed candidates are a
    strict superset, and a pair's min ``__probe`` over its band rows
    is 0 exactly when the base signatures collide on some rep).  A
    caller that needs both the probed and the unprobed gate over one
    batch then bands and joins ONCE instead of twice — the banding
    kernel, the batch exchange and the seen-table candidate join are
    all shared (guide §1.2: don't compute the same pass twice).
    """
    if base_counts and not probes:
        raise ValueError("base_counts=True requires probes > 0")
    dim = None
    if isinstance(seen_banded, str):
        seen_banded, (planes, seed, repetitions, dim) = (
            load_embedding_signature_table(
                new_df.sparkSession, seen_banded))
    # Batch-side scratch preflight (the seen table is bucketed and
    # never exchanges, but a nightly batch can itself be huge): the
    # batch exchanges its pre-band repartition plus reps x (1+probes)
    # vector-carrying band rows per vector.  Known budget only; lazy
    # on clusters.
    from .sizing import check_shuffle_scratch, scratch_budget

    if scratch_budget(new_df.sparkSession) is not None:
        # one memoized probe job (non-null count + dim; null rows are
        # filtered before the repartition below, so they cost nothing
        # and need no model term)
        n_batch, _, bdim = _embedding_probe(new_df, vec_col)
        if n_batch and bdim is not None:
            elem = new_df.schema[vec_col].dataType.elementType
            elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
            rows_per_vec = int(repetitions) * (1 + int(probes)) + 1
            check_shuffle_scratch(
                new_df.sparkSession,
                n_batch * rows_per_vec
                * (elem_bytes * int(bdim) + _BAND_ROW_OVERHEAD_BYTES),
                what=(f"embedding_dedup_incremental's batch band "
                      f"shuffle (n_batch={n_batch:,}, dim={int(bdim)}, "
                      f"repetitions={repetitions}, probes={probes})"),
                remedies=(
                    "shard the probe batch and run the incremental "
                    "gate per shard (the seen table is read "
                    "co-located either way)",
                    "reduce probes= (each probe multiplies the "
                    "batch-side band rows)",
                ))
    # spread the batch before the Python signature kernel (the text
    # twin's repartition rationale: a nightly batch often lands as a
    # file or two, capping the Arrow kernel at 1-2 tasks).  Nulls are
    # dropped BEFORE the exchange — they band to nothing, and an
    # all-null batch (a failed upstream embedding job) must cost zero
    # shuffle instead of n_all x ~40 B of dead framing that the
    # n_batch==0 preflight skip would otherwise wave through
    # (round-14 review).  The output contract keeps them: the final
    # left join re-attaches every new_df id with n_matched_seen=0.
    # The spread width derives from the probed batch size when the
    # probe already ran (local mode): a fixed 2 x cores slices a
    # ~2 MB nightly batch into 125-row Python-worker handoffs
    # (round-15: 1.31 s at 64 parts vs 0.54 s at 8 for the sf0.1
    # batch); cluster mode (no probe) keeps the fixed fallback.
    from .sizing import fold_partitions

    probed_n = None
    if scratch_budget(new_df.sparkSession) is not None:
        probed_n, _, probed_dim = _embedding_probe(new_df, vec_col)
        elem = new_df.schema[vec_col].dataType.elementType
        elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
        est_bytes = probed_n * ((probed_dim or 0) * elem_bytes
                                + _BAND_ROW_OVERHEAD_BYTES)
    nparts = fold_partitions(
        new_df.sparkSession, None if probed_n is None else est_bytes,
        est_rows=probed_n, per_task_rows=512)
    banded_new, _ = _hyperplane_banded(
        new_df.where(F.col(vec_col).isNotNull()).repartition(nparts),
        vec_col, id_col, planes, seed,
        repetitions, method, dim=dim, probes=probes)
    counts = None
    if banded_new is not None:
        seen = seen_banded.select(
            F.col(id_col).alias("__seen_id"),
            F.col(vec_col).alias("__seen_vec"), "rep", "sig")
        nw = banded_new.select(
            F.col(id_col).alias("__new_id"),
            F.col(vec_col).alias("__new_vec"),
            *([F.col("__probe")] if base_counts else []),
            F.col("__rep").alias("rep"), F.col("__sig").alias("sig"))
        # cos_sim is PAIR-constant across a pair's band rows (same two
        # vectors on every row), so gating each band row and counting
        # DISTINCT seen ids equals the former group-by-pair-then-count
        # — ONE exchange of the candidate rows instead of two
        # (round-15, the dedup_incremental_lsh restructure's twin).
        # base leg: a pair's min __probe == 0 iff SOME band row has
        # __probe == 0, so countDistinct over the __probe = 0 rows'
        # seen ids is exactly the probes=0 candidate count.
        cands = (
            nw.join(seen, ["rep", "sig"])
            .select(
                "__new_id", "__seen_id",
                *([F.col("__probe")] if base_counts else []),
                F.round(cosine_expr(F.col("__new_vec"),
                                    F.col("__seen_vec")), 6)
                .alias("cos_sim"))
            .where(F.col("cos_sim") >= threshold)
        )
        counts = cands.groupBy("__new_id").agg(
            F.countDistinct("__seen_id").alias("n_matched_seen"),
            *([F.countDistinct(F.when(F.col("__probe") == 0,
                                      F.col("__seen_id")))
               .alias("n_matched_seen_base")] if base_counts else []))
    out = new_df.select(id_col)
    base_cols = (["n_matched_seen_base"] if base_counts else [])
    if counts is not None:
        out = out.join(counts, F.col(id_col) == F.col("__new_id"), "left")
    else:
        for c in ["n_matched_seen", *base_cols]:
            out = out.withColumn(c, F.lit(None).cast("long"))
    return out.select(
        id_col,
        F.coalesce(F.col("n_matched_seen"), F.lit(0).cast("long"))
        .alias("n_matched_seen"),
        *[F.coalesce(F.col(c), F.lit(0).cast("long")).alias(c)
          for c in base_cols],
    )


def auto_hyperplane_params(n_rows: int, design_cos: float = 0.99,
                           target_occupancy: int = 32,
                           target_recall: float = 0.98,
                           min_planes: int = 8, max_planes: int = 28,
                           max_repetitions: int = 16) -> tuple[int, int]:
    """Size hyperplane-LSH (planes, repetitions) from corpus scale —
    the production answer to the width-vs-volume trade a FIXED plane
    count loses at scale (measured: the sf1 audit's 49x on a pinned
    planes=8 as mean bucket occupancy grew 10x; see BASELINE.md).

    ``planes = ceil(log2(n / target_occupancy))`` holds EXPECTED mean
    bucket occupancy at ``target_occupancy`` whatever n is, so the
    bucket-local exact-cosine work stays ~``repetitions *
    target_occupancy`` per vector — linear in n overall.  Wider
    signatures lower per-table collision probability, so repetitions
    are then derived to restore recall: a pair at ``design_cos``
    collides per table with p^planes (p = 1 - θ/π), and the smallest
    r with 1 - (1 - p^planes)^r >= target_recall is returned (planes
    clamped to [min_planes, max_planes]).  Expected occupancy assumes
    roughly spread signatures — correlated corpora concentrate
    buckets, which the writers' ``max_bucket`` cap (with sidecar cap
    accounting) already bounds.

    If holding the recall target would need more than
    ``max_repetitions`` tables, this RAISES with the levers named
    (like its MinHash twin :func:`~.dedup.auto_minhash_params`) —
    silently clamping would deliver e.g. 68% recall against a 98%
    target at 1e9 rows with a tight design cosine, exactly the
    production scale the auto mode exists for.

    Storage note: query-side multi-probe
    (:func:`embedding_dedup_incremental` ``probes=``) is a cheaper
    route to the same recall when the TABLE size is the constraint —
    measured, ``repetitions=r/2`` with ``probes=2`` matched the
    plain ``repetitions=r`` recall at half the stored rows at 1M,
    and at 10M EXCEEDED the full-reps table's recall (.9700 vs
    .9484 at the hardest level) at half the rows, a third of the
    build and half the batch wall (BASELINE.md round-7 multi-probe
    ladder + thin-auto tables).  The sizing here stays
    analytic (the margin-ranked probe's capture rate has no closed
    form, and measured probed recall EXCEEDS the independent-trial
    prediction, so treating r as the only knob is conservative);
    readers holding a storage budget can halve the returned
    repetitions and probe with q=2.
    """
    from math import acos, ceil, log, log2, pi

    planes = ceil(log2(max(int(n_rows), 1) / float(target_occupancy)))
    planes = min(max(planes, min_planes), max_planes)
    p = 1.0 - acos(min(max(float(design_cos), -1.0), 1.0)) / pi
    per_table = p ** planes
    if per_table >= 1.0:
        return planes, 1
    reps = max(ceil(log(1.0 - float(target_recall))
                    / log(1.0 - per_table)), 1)
    if reps > max_repetitions:
        raise ValueError(
            f"holding recall {target_recall} for pairs at cosine "
            f"{design_cos} with planes={planes} (n_rows={n_rows}) "
            f"needs {reps} repetitions > max_repetitions="
            f"{max_repetitions}; raise max_repetitions (more tables), "
            "raise target_occupancy (narrower signatures, more verify "
            "work per bucket), lower target_recall, or raise "
            "design_cos (hold recall only for closer pairs)")
    return planes, reps


def _resolve_hyperplane_params(df: DataFrame, planes, repetitions,
                               design_cos: float,
                               n_rows: int | None = None) -> tuple[int, int]:
    """Resolve the ``planes="auto"`` sentinel shared by
    :func:`embedding_near_dup_pairs` and
    :func:`write_embedding_signature_table` (one place for the
    sentinel semantics): ``repetitions=None`` means "derive it under
    auto, else 1"; an EXPLICIT integer — including 1 — is always
    honored, so auto width with a single table stays expressible.
    ``n_rows`` lets a caller that already counted (e.g. for a shuffle
    preflight) skip auto's count job."""
    if planes == "auto":
        planes, auto_reps = auto_hyperplane_params(
            df.count() if n_rows is None else int(n_rows),
            design_cos=design_cos)
        if repetitions is None:
            repetitions = auto_reps
    return int(planes), int(repetitions) if repetitions is not None else 1


def _embedding_probe(df: DataFrame, vec_col: str):
    """ONE probe job shared by every embedding guard/auto-sizer over
    the same input: (non-null vector count, total row count, vector
    dimension) in a single agg — and MEMOIZED per (session, semantic
    plan, column) via :func:`~.sizing.memoized_probe` (round-13
    VERDICT #4), so a pipeline that near-dups, builds a signature
    table, and runs the incremental gate over one corpus probes it
    once instead of three times.  The null-guard on size(): without
    ANSI mode, size(NULL) is -1 (not NULL), which would let a leading
    null vector win the first() and poison the dim."""
    from .sizing import memoized_probe

    def _compute():
        p = df.agg(
            F.count(F.when(F.col(vec_col).isNotNull(), F.lit(1)))
            .alias("n"),
            # total rows ride along for free (same job) — consumers
            # that care about the null fraction (diagnostics, future
            # models) get it without a second probe; the current
            # scratch models ignore it because every pre-band
            # repartition filters nulls first
            F.count(F.lit(1)).alias("n_all"),
            F.first(F.when(F.col(vec_col).isNotNull(),
                           F.size(F.col(vec_col))), ignorenulls=True)
            .alias("d")).first()
        return (int(p["n"]), int(p["n_all"]),
                None if p["d"] is None else int(p["d"]))

    return memoized_probe(df, ("embedding", vec_col), _compute)


# band-row shuffle model for the in-query near-dup self-join: each
# side exchanges n x repetitions rows carrying the DENORMALIZED
# vector (elem_bytes x dim) plus ~40 B of id/rep/sig/row framing —
# the round-11 10M ladder measured ~48 GB at n=1e7, dim=64 float32,
# r=8, matching this model within ~2%
_BAND_ROW_OVERHEAD_BYTES = 40


def _near_dup_join_preflight(df: DataFrame, vec_col: str, id_col: str,
                             n_rows: int, dim: int | None,
                             repetitions: int,
                             planes: int, threshold: float) -> None:
    """Scratch-volume preflight for :func:`embedding_near_dup_pairs`'
    band self-join (round-11 VERDICT #1): estimate the exchange bytes
    from (n, dim, element width, repetitions) and raise the sizing
    module's actionable error BEFORE launching a join that would die
    mid-job at disk-full — the remedies name the levers this operator
    actually owns.  ``n_rows`` counts NON-null vectors only (null
    vectors are in-contract and excluded from the banded join, so
    counting them would spuriously refuse a mostly-null corpus near
    the budget line — round-12 ADVICE) and ``dim`` comes from the same
    agg job the caller runs anyway; no-op on empty/all-null input or
    unknown budget."""
    from .sizing import check_shuffle_scratch

    if not n_rows or dim is None:
        return  # empty/all-null: no band join will launch at all
    dim = int(dim)
    elem = df.schema[vec_col].dataType.elementType
    elem_bytes = 4 if isinstance(elem, T.FloatType) else 8
    est = (2 * int(n_rows) * int(repetitions)
           * (elem_bytes * dim + _BAND_ROW_OVERHEAD_BYTES))
    check_shuffle_scratch(
        df.sparkSession, est,
        what=(f"embedding_near_dup_pairs' band self-join "
              f"(n={n_rows:,}, dim={dim}, planes={planes}, "
              f"repetitions={repetitions})"),
        remedies=(
            "pass an explicit repetitions= (near-exact duplicate "
            "corpora hold ~full recall at repetitions=2, a quarter "
            "of the auto-table scratch)",
            "build the persisted signature table instead "
            "(write_embedding_signature_table(planes='auto') + "
            "embedding_dedup_incremental) so the corpus shuffles "
            "once at build time and only each probe batch shuffles "
            "per run",
            f"raise threshold= (currently {threshold}) so auto "
            "derives fewer repetitions for the same recall target",
        ))


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             planes: int = 16, seed: int = 23,
                             exact: bool = False,
                             method: str = "auto",
                             repetitions: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= threshold, id_a < id_b).

    Scale path (default): random-hyperplane LSH — each vector gets a
    ``planes``-bit signature per repetition (sign of dot with seeded
    random hyperplanes); candidate pairs share a (repetition, bucket),
    then the exact cosine filters.  Collision probability for two
    vectors at angle θ is (1 - θ/π)^planes per table, so high-cosine
    pairs nearly always collide while the bucket join stays linear in
    bucket sizes.  NULL or wrong-dimension vectors are excluded up
    front (a shared degenerate bucket would self-join them all — the
    same guard minhash applies to NULL text), which matches the result
    set exactly: their cosine is NULL and can never pass the
    threshold.  ``exact=True`` bypasses LSH (full pairwise — only for
    oracles/small tables; it is the O(n²) plan the LSH form exists to
    avoid).

    ``repetitions`` is the recall lever: r independent signature
    tables (seeds ``seed, seed+1, ...``) computed in the SAME single
    pass, posexploded to (rep, bucket) band rows — the minhash-banding
    shape — so a pair at cosine c survives with probability
    1 - (1 - p(c)^planes)^r.  Verified pairs dedup on (id_a, id_b)
    AFTER the cosine filter (the exchange carries only survivors —
    see the inline comment); ``repetitions=1`` is the plain
    single-table form.

    SCALE NOTE (round-11 10M ladder): the self-join shuffles band
    rows with their denormalized vectors on both sides — ~2 x n x r
    x (4 x dim + ~40) bytes of exchange + sort spill.  At 10M x
    dim-64, the auto-resolved 8 tables need ~48 GB of shuffle
    scratch; when duplicates are near-exact (cosine >> the design
    threshold, e.g. re-crawls and format twins), an explicit
    ``repetitions=2`` holds their recall at ~1 at a quarter of the
    scratch, and the full-recall-at-threshold configuration belongs
    on the persisted form (:func:`write_embedding_signature_table` +
    :func:`embedding_dedup_incremental`), where the table is built
    once and only the nightly batch shuffles.  This is ENFORCED, not
    advisory: a scratch-volume preflight models the exchange from
    (n, dim, element width, r) and raises the actionable remedy list
    before launching a join the local shuffle volume cannot hold
    (:func:`~.sizing.check_shuffle_scratch`; budget-unknown cluster
    mode skips the check).

    ``method`` picks the signature kernel (LSH path only):
    ``"arrow"`` (the ``"auto"`` default) computes all plane dots of
    all repetitions in a vectorized Arrow batch whose inner loop adds
    term-by-term in the SAME left-to-right float64 order as the Column
    fold — bit-identical signs, so the bucket keys (and hence
    candidates and the SQL oracle) are unchanged while the per-plane
    interpreted ``zip_with/aggregate`` chain (measured ~2 s for
    2k x 64-dim x 8 planes at sf0.1) drops to milliseconds.
    ``"column"`` keeps the pure-Column reference path the kernel is
    differentially tested against.  Output: (id_a, id_b, cos_sim).

    ``planes="auto"`` sizes (planes, repetitions) from the corpus via
    :func:`auto_hyperplane_params` (one count job; recall target at
    ``threshold`` itself, so a huge corpus with a loose threshold may
    raise rather than silently under-recall — see that function) —
    fixed planes are right for a pinned, oracle-reproducible run,
    auto for production corpora whose size the caller doesn't know up
    front.  ``repetitions=None`` (default) derives the count under
    auto (1 otherwise); an explicit integer — including 1 — is always
    honored.
    """
    if exact:
        planes, repetitions = _resolve_hyperplane_params(
            df, planes, repetitions, design_cos=threshold)
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        return pairs.select(
            "id_a", "id_b",
            F.round(cosine_expr(F.col("__va"), F.col("__vb")),
                    6).alias("cos_sim"),
        ).where(F.col("cos_sim") >= threshold)

    # ONE probe job, shared by the auto-sizing and the scratch
    # preflight (non-null row count + vector dimension in a single
    # agg) — and ONLY when something consumes it: with explicit planes
    # and an unknown scratch budget (cluster mode) the preflight is a
    # no-op by contract and the plan must stay lazy with zero eager
    # jobs, exactly as before the guard existed (round-12 review).
    # The probe re-executes the upstream DAG once — then memoizes per
    # (session, semantic plan), so chained guarded operators over the
    # same input probe it once (round-13 VERDICT #4); a caller
    # composing this over an expensive uncached upstream at scale
    # should still .persist() the input first (the first probe then
    # reads cached blocks and the banded pass below reuses them).
    from .sizing import scratch_budget

    budget_known = scratch_budget(df.sparkSession) is not None
    n_rows = dim = None
    if planes == "auto" or budget_known:
        n_rows, _, dim = _embedding_probe(df, vec_col)
    planes, repetitions = _resolve_hyperplane_params(
        df, planes, repetitions, design_cos=threshold, n_rows=n_rows)
    if budget_known:
        _near_dup_join_preflight(df, vec_col, id_col, n_rows, dim,
                                 repetitions, planes, threshold)
    banded, _ = _hyperplane_banded(df, vec_col, id_col, planes, seed,
                                   repetitions, method,
                                   dim=None if dim is None else int(dim))
    if banded is None:  # empty (or all-null) table: typed empty result
        return _empty_pairs(df, id_col)

    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("__va"),
                      "__rep", "__sig")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("__vb"),
                      F.col("__rep").alias("__repb"),
                      F.col("__sig").alias("__sigb"))
    pairs = a.join(b, (F.col("__rep") == F.col("__repb"))
                   & (F.col("__sig") == F.col("__sigb"))
                   & (F.col("id_a") < F.col("id_b")))
    # cosine-filter BEFORE the cross-rep dedup (round-11 10M ladder
    # finding): dropDuplicates is a shuffle, and running it first
    # exchanges EVERY candidate occurrence with BOTH denormalized
    # vectors attached — at 1M vectors under planes="auto" (6 tables)
    # that is ~9e7 rows x ~550 B ~ 50 GB of exchange + sort spill,
    # which overflowed this container's scratch.  The cosine is a
    # deterministic function of the pair (round(...,6) included), so
    # filtering first is result-identical while the dedup exchange
    # carries only the verified survivors as bare id pairs; the cost
    # is re-scoring a pair once per colliding table — vectorized
    # arithmetic, orders of magnitude cheaper than the shuffle bytes.
    pairs = pairs.select(
        "id_a", "id_b",
        F.round(cosine_expr(F.col("__va"), F.col("__vb")), 6).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)
    if repetitions > 1:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs


def auto_ivf_params(n_rows: int, nprobe: int = 8,
                    min_centroids: int = 16,
                    max_centroids: int = 4096) -> tuple[int, int]:
    """Cost-balancing (n_centroids, nprobe) for the IVF family — the
    third leg of the theory-sized parameter story
    (:func:`~.dedup.auto_minhash_params`,
    :func:`auto_hyperplane_params`), with an honest caveat: unlike
    the LSH twins there is NO closed-form recall model here (IVF
    recall depends on how the data clusters), so ``nprobe`` stays the
    caller's recall knob (measured by the library's overlap tests)
    and only the COST side is derived.

    Per-query work = C centroid dots + nprobe * n/C bucket dots,
    minimized at C = sqrt(n * nprobe) — the classic sqrt rule,
    clamped to [min_centroids, max_centroids].  (fit_centroids'
    sample cap bounds the build side independently.)  Returns the
    clamped C and the nprobe passed in, so call sites can unpack one
    pair like the twins.

    Clustered-corpus recall guidance (measured, round-12 ladder —
    BASELINE "IVF recall ladder on a CLUSTERED corpus"): on a
    mixture corpus with G natural clusters the sqrt rule packs ~C/G
    centroids into each cluster, and a query's true top-k spread
    over most of its OWN cluster's centroids — so recall@k at FIXED
    nprobe declines as C grows (np8: 1.000 at C=894/100k rows ->
    .881 at C=2828/1M), and holding recall while C scales with
    sqrt(n) requires nprobe ~ C/G (np16 restored 1.000 at 1M).
    Isotropic data is the measured worst case (recall floor .22-.51
    @np8 at 10M), clustered the production expectation — sweep
    nprobe on a ground-truth subset per corpus, as the library's
    overlap tests do."""
    from math import sqrt

    c = round(sqrt(max(int(n_rows), 1) * max(int(nprobe), 1)))
    return min(max(c, min_centroids), max_centroids), int(nprobe)


def fit_centroids(df: DataFrame, n_centroids: int = 64,
                  vec_col: str = "embedding",
                  sample_fraction: float | str = 0.1,
                  iterations: int = 10, seed: int = 11,
                  max_sample_rows: int = 100_000) -> np.ndarray:
    """Driver-side mini-batch k-means over a sample — produces the
    centroid array :func:`ivf_topk` consumes.

    Index-build pattern for IVF at scale: sample a fraction, then cap
    at ``max_sample_rows`` ABSOLUTE rows — the driver transfer is
    O(max_sample_rows · dim) no matter how big the table is (a bare
    fraction would collect 10 TB of a 100 TB table).  Lloyd iterations
    run in numpy (a (C, dim) problem, not a data-scale one); the full
    assignment runs distributed inside ``ivf_topk``.  Deterministic for
    a given seed and input layout (the seeded sample is row-stable; the
    limit takes its first ``max_sample_rows`` survivors).

    ``sample_fraction="auto"`` sizes the fraction from the corpus (one
    count job): ``min(1, 4 * max_sample_rows / n)`` — a 4x oversample
    of the row cap so the limit stays saturated while the sample
    COMPUTES only ~4 x max_sample_rows vectors.  A fixed fraction at
    decade scale wastes the difference: 0.5 at 10M rows materialized
    5M vectors (minutes of synth + scan) only for the cap to discard
    98% of them (round-12 clustered ladder).  A fixed fraction stays
    right when the caller knows n, or for layout-pinned
    oracle-reproducible runs."""
    if sample_fraction == "auto":
        n = df.count()
        sample_fraction = min(1.0, 4.0 * max_sample_rows / max(n, 1))
    sample = (
        df.select(vec_col)
        .sample(fraction=min(1.0, float(sample_fraction)), seed=seed)
        .limit(int(max_sample_rows))
        .collect()
    )
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    if len(X) < n_centroids:
        raise ValueError(
            f"sample yielded {len(X)} vectors < n_centroids={n_centroids}; "
            "raise sample_fraction"
        )
    # normalize so k-means on euclidean ~ spherical k-means (cosine)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=n_centroids, replace=False)].copy()
    for _ in range(iterations):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_centroids):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def calibrate_nprobe(df: DataFrame, queries: DataFrame,
                     centroids: np.ndarray | None = None, *,
                     index_path: str | None = None,
                     k: int = 10, target_recall: float = 0.95,
                     max_queries: int = 256,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     q_vec_col: str | None = None,
                     q_id_col: str | None = None,
                     seed: int = 29, start_nprobe: int = 1,
                     bf_method: str = "arrow") -> tuple[int, float]:
    """Measure-and-return the smallest ``nprobe`` (doubling sweep)
    whose recall@k against brute-force ground truth meets
    ``target_recall`` — the engine lever for the measured rule that
    was previously docstring-only guidance (:func:`auto_ivf_params`:
    on clustered corpora recall at FIXED nprobe falls as C/G grows,
    so nprobe must be re-derived per corpus; round-12 ladder,
    BASELINE "IVF recall ladder on a CLUSTERED corpus").

    Protocol (the same one the ladder scripts hand-ran): take a
    deterministic pseudo-random sample of ≤ ``max_queries`` queries
    (seeded hash order — no count job), compute exact ground truth
    with :func:`brute_force_topk` (ONE pass over the corpus; the
    query side broadcasts, the big side never shuffles), then sweep
    nprobe = start, 2·start, ... up to C, measuring
    recall@k = |ivf ∩ truth| / |truth| with a distributed join —
    nothing data-sized is collected.  Returns ``(nprobe, recall)``
    for the first rung meeting the target, else ``(C, recall at C)``
    (probing every centroid IS the exhaustive search, so recall < 1
    there means ties at rank k flipped — the caller sees the honest
    number either way).

    Sweep cost is engineered to be re-run cheaply per corpus:

    * ``index_path`` given (the 10M+ production form): each rung is
      an :func:`ivf_topk_indexed` search — a partition-pruned read of
      ~nprobe/C of the files, so the whole sweep reads about one
      corpus's worth of bytes across all rungs combined.
    * inline ``centroids``: the corpus→centroid assignment (the
      expensive narrow pass) runs ONCE and is cached
      (MEMORY_AND_DISK); each rung re-probes only the ≤max_queries
      query rows driver-side and re-joins against the cached
      assignment.  The cache is released before returning.

    ``df`` is always the EXACT corpus (ground truth must not be
    quantized); pass ``index_path`` alongside it to sweep a
    quantized index against float truth — the returned recall then
    prices the quantization too.
    """
    if (centroids is None) == (index_path is None):
        raise ValueError(
            "pass exactly one of centroids= (inline sweep) or "
            "index_path= (persisted-index sweep)")
    q_vec_col = q_vec_col or vec_col
    q_id_col = q_id_col or id_col
    spark = df.sparkSession
    if index_path is not None:
        centroids = load_ivf_centroids(spark, index_path)
    n_cent = int(centroids.shape[0])

    from pyspark import StorageLevel

    q_sample = (queries
                .orderBy(F.xxhash64(F.col(q_id_col), F.lit(seed)))
                .limit(int(max_queries))
                .persist(StorageLevel.MEMORY_AND_DISK))
    truth = (brute_force_topk(df, q_sample, k, vec_col, id_col,
                              q_vec_col, q_id_col, method=bf_method)
             .select("query_id", "neighbor_id")
             .persist(StorageLevel.MEMORY_AND_DISK))
    assigned = None
    try:
        denom = truth.count()
        if not denom:
            raise ValueError(
                "no ground-truth rows: empty query sample or corpus")
        if index_path is None:
            # pre-pay the corpus assignment once for every rung
            if centroids.size > _CENTROID_LITERAL_MAX:
                assigned = _assign_cid_arrow(df, centroids, id_col,
                                             vec_col)
            else:
                assigned = _assign_cid(df, centroids, id_col, vec_col)
            assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
        nprobe = max(1, int(start_nprobe))
        while True:
            nprobe = min(nprobe, n_cent)
            if index_path is not None:
                # ivf_topk_indexed reads the query side under the
                # INDEX's column names — normalize in case they differ
                q_norm = q_sample.select(
                    F.col(q_id_col).alias(id_col),
                    F.col(q_vec_col).alias(vec_col))
                got = ivf_topk_indexed(index_path, q_norm, centroids,
                                       k, nprobe, vec_col, id_col)
            else:
                if centroids.size > _CENTROID_LITERAL_MAX:
                    q_assigned = _probe_queries_arrow(
                        q_sample, centroids, nprobe, q_id_col, q_vec_col)
                else:
                    q_assigned = _probe_queries(
                        q_sample, centroids, nprobe, q_id_col, q_vec_col)
                got = _score_and_rank(assigned, q_assigned, k, id_col,
                                      vec_col)
            hits = (got.select("query_id", "neighbor_id")
                    .join(truth, ["query_id", "neighbor_id"]).count())
            recall = hits / denom
            if recall >= target_recall or nprobe >= n_cent:
                return nprobe, recall
            nprobe *= 2
    finally:
        truth.unpersist()
        q_sample.unpersist()
        if assigned is not None:
            assigned.unpersist()


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector
    ``scale = max|v| / 127``, ``qvec[i] = round(v[i] / scale)`` —
    4x (float32) / 8x (float64) smaller vectors for the ANN index,
    decoded as ``qvec[i] * scale``.  Pure Column expressions; the
    identical arithmetic runs in DuckDB, so quantization is
    oracle-checkable element-for-element.

    Output: (id, scale, qvec: array<int>).  Zero vectors get scale 0
    and an all-zero qvec (nullif guards the division).
    """
    scale, q = _quantize_cols(vec_col)
    return df.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        q.alias("qvec"),
    )


def quantized_cosine_expr(qa: Column, sa: Column, qb: Column,
                          sb: Column) -> Column:
    """Cosine over int8-quantized vectors: the per-vector scales cancel
    in the cosine, so it reduces to the integer-vector cosine — scales
    only matter for zero vectors (NULL, like :func:`cosine_expr`)."""
    qad = F.transform(qa, lambda x: x.cast("double"))
    qbd = F.transform(qb, lambda x: x.cast("double"))
    return F.when(
        (sa > 0) & (sb > 0),
        _dot(qad, qbd) / F.nullif(_norm(qad) * _norm(qbd), F.lit(0.0)),
    )
