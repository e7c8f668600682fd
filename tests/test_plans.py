"""Physical-plan audit over the whole driver-contract registry.

The 100 TB posture is enforced here, not just claimed: every registered
query's plan is checked for scale anti-patterns — unexpected cartesian
products, missing parquet column pruning on the histogram family, and
missing partial aggregation before the exchange.
"""

from __future__ import annotations

import pytest

from dask_histogram_spark.queries import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Queries with a *deliberate* O(n^2) or broadcast-NLJ stage, with why:
CARTESIAN_ALLOWED = {
    "embedding_near_dup",   # union's exact half exists for oracle checks only
    "similarity_topk",      # broadcast NLJ: queries side is broadcast-tiny
    "dedup_exact_stats",    # cross join against a broadcast 1-ROW stats agg
    "text_quality",         # lm_score: broadcast 1-ROW vocabulary-size frame
}


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in QUERIES.items():
        if name in ("windowed_histogram", "streaming_histogram_replay"):
            continue  # streaming-shaped plans, audited in test_streaming
        out[name] = _executed_plan(fn(spark, SF_DIR))
    return out


def test_no_unexpected_cartesian_products(plans):
    bad = []
    for name, plan in plans.items():
        if name in CARTESIAN_ALLOWED:
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            bad.append(name)
    assert not bad, f"unexpected cartesian/NLJ in: {bad}"


def test_minhash_lsh_stats_is_one_plan_and_one_collect(spark, monkeypatch):
    """minhash_lsh_stats is eager, so its returned plan is a
    LocalRelation and the audit above cannot see its work: spy on
    DataFrame.collect for the plan that work ran in.  One collect, the
    signature fold in it once, and no cartesian/NLJ stage."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    def run():
        return QUERIES["minhash_lsh_stats"](spark, SF_DIR)

    run()  # fills the session's text-probe memo (a collect of its own)
    collect = ClassicDataFrame.collect
    plans = []

    def spy(self):
        out = collect(self)
        plan = self._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan only
        plans.append(plan.toString())
        return out

    monkeypatch.setattr(ClassicDataFrame, "collect", spy)
    run()
    monkeypatch.undo()
    assert len(plans) == 1
    assert plans[0].count("ArrowEvalPython") == 1, plans[0]
    assert "CartesianProduct" not in plans[0]
    assert "BroadcastNestedLoopJoin" not in plans[0]


def test_histogram_scans_are_column_pruned(plans):
    """Every lineitem histogram scan must read only the filled columns
    (ReadSchema pushdown) — never the full 11-column row."""
    for name in ("hist1d_double", "hist1d_weight", "hist2d", "hist3d",
                 "hist_mean", "hist_filtered", "hist_int_bool_axes",
                 "hist_project"):
        plan = plans[name]
        assert "ReadSchema" in plan
        # merged rows (hist_int_bool_axes) scan lineitem more than once —
        # EVERY scan must be pruned, not just the first
        for schema_line in (l for l in plan.splitlines() if "ReadSchema" in l):
            assert "l_orderkey" not in schema_line, f"{name}: scan not pruned"
            assert "l_shipdate" not in schema_line, f"{name}: scan not pruned"


def test_filter_reaches_the_scan(plans):
    """hist_filtered's predicate must be pushed into the parquet scan."""
    plan = plans["hist_filtered"]
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_returnflag" in pushed[0], plan[:500]


def test_ivf_assignment_is_a_narrow_map(plans):
    """IVF bucket assignment must not shuffle vectors: nearest-centroid
    is an argmin over a broadcast centroid literal, so the only shuffle
    Exchange per search leg is the final per-query ranking window
    (keyed on query_id, not on any embedding column).  The registry row
    unions the inline, persisted-index and quantized-index legs,
    hence <= 3."""
    plan = plans["similarity_ivf_topk"]
    assert "CartesianProduct" not in plan
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) <= 3, shuffles
    for line in shuffles:
        assert "query_id" in line, line
        assert "embedding" not in line, line


def test_indexed_ivf_scan_is_partition_pruned(plans):
    """The persisted-index leg of similarity_ivf_topk must read ONLY the
    probed cid partitions: the probe set becomes a static partition
    filter on the index scan (at 100 TB this is the difference between
    reading ~nprobe/C of the files and a full index scan)."""
    import re

    plan = plans["similarity_ivf_topk"]
    m = re.search(r"PartitionFilters: \[[^\]]*cid[^\]]*\]", plan)
    assert m, plan[:1500]


def test_pipeline_dedup_shuffles_hash_key_not_text(plans):
    """prepare_training_corpus must key its one shuffle on
    xxhash64(text), never on the document text itself.  Since the
    round-14 double-regex fix only the CHEAP gates (isnotnull +
    length) run scan-side below the exchange; the regex gates live in
    the min_by ordering's null guard, surfacing after the aggregate as
    the __win isNotNull filter — pin that exact shape so a drifted
    plan (regex back below the exchange = double evaluation, or no
    scan-side pruning at all) fails here."""
    import re

    plan = plans["pipeline_prepare_corpus"]
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert shuffles, plan[:500]
    for line in shuffles:
        assert "text" not in line, line
    # scan-side Filter: the null/length gate only (cheap, prunes rows
    # before the hash exchange) — the regex gates must NOT be there
    assert re.search(r"isnotnull\(text#\d+\) AND \(length\(text#\d+\)",
                     plan), plan[:2000]
    assert "RLIKE" not in plan and "rlike" not in plan, \
        "regex gates leaked into the physical plan as filters"
    # post-aggregate null-winner filter (the min_by gate fold)
    assert re.search(r"isnotnull\(__win#\d+\)", plan), plan[:2000]


def test_incremental_bucketed_seen_join_has_no_seen_side_exchange(
        spark, tmp_path):
    """dedup_incremental's prescribed at-scale shape: the seen table is
    written bucketed on a materialized content-key column
    (write_bucketed) and joined via seen_key_col — the anti-join must
    then read the seen side bucketed (co-located) and shuffle ONLY the
    new batch.  This is the plan that makes incremental dedup viable
    when the seen corpus is 1000x the nightly batch."""
    from pyspark.sql import functions as F

    from dask_histogram_spark.operators import dedup_incremental
    from dask_histogram_spark.sources import write_bucketed

    seen = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.xxhash64(F.concat(F.lit("doc-"), F.col("id")))
         .alias("content_key"),
    )
    write_bucketed(seen, "seen_winners_bkt", "content_key", 8,
                   path=str(tmp_path / "seen"))
    try:
        seen_tbl = spark.table("seen_winners_bkt")
        new = spark.range(5_000, 15_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc-"), F.col("id")).alias("text"),
        )
        out = dedup_incremental(new, seen_tbl, seen_key_col="content_key")
        plan = _executed_plan(out)
        # the anti-join ran as a real join (not a fallback NLJ)
        assert "LeftAnti" in plan, plan[:800]
        # the seen scan is a bucketed read...
        assert "Bucketed: true" in plan, plan[:800]
        # ...and NO exchange repartitions the seen side: every shuffle
        # in the plan keys on the new batch's computed hash, never on
        # the stored content_key column
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert "content_key" not in line, line
        # correctness of the precomputed-key path itself: ids 5000-9999
        # are already seen, 10000-14999 survive
        rows = out.collect()
        assert len(rows) == 5_000
        assert min(r.doc_id for r in rows) == 10_000
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_winners_bkt")


def test_incremental_lsh_seen_side_reads_bucketed_without_exchange(
        spark, tmp_path):
    """dedup_incremental_lsh's at-scale shape: the seen corpus's banded
    signature projection is persisted bucketed on (band, bucket)
    (write_signature_table), and the nightly batch's candidate join
    must read it co-located — the ONLY (band, bucket)-keyed exchange in
    the plan shuffles the NEW batch's band rows.  This is what makes
    cross-run near-dup dedup viable when the seen corpus is 1000x the
    batch."""
    from pyspark.sql import functions as F

    from dask_histogram_spark.operators import (
        dedup_incremental_lsh, write_signature_table)

    texts = [f"seen document number {i} with a reasonably long body "
             f"of shared template words plus token {i * 17}"
             for i in range(200)]
    seen = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    write_signature_table(seen, "seen_sigs_bkt", num_perm=16, bands=4,
                          n_buckets=8, path=str(tmp_path / "sigs"))
    try:
        new = spark.createDataFrame(
            [(1000, texts[3]),                       # exact re-crawl
             (1001, texts[5] + " trailing edit"),    # near-dup edit
             (1002, "entirely fresh content with nothing in common "
                    "qzx vbn mlk jhg fds apw")],     # fresh
            "doc_id long, text string")
        # name-based call: the reader's signature parameters come from
        # the stored __params sidecar, so they can never drift from
        # the writer's (a drifted reader would silently report every
        # doc as fresh)
        out = dedup_incremental_lsh(new, "seen_sigs_bkt",
                                    min_sig_matches=10)
        plan = _executed_plan(out)
        assert "Bucketed: true" in plan, plan[:800]
        bucket_shuffles = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "bucket" in l
        ]
        # only the new batch's band rows shuffle onto the bucket layout
        assert len(bucket_shuffles) <= 1, bucket_shuffles
        got = {r.doc_id: r.n_matched_seen for r in out.collect()}
        assert got[1000] >= 1 and got[1001] >= 1 and got[1002] == 0, got
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_sigs_bkt")
        spark.sql("DROP TABLE IF EXISTS seen_sigs_bkt__params")


def test_embedding_incremental_seen_side_reads_bucketed_without_exchange(
        spark, tmp_path):
    """embedding_dedup_incremental (the embedding twin of the text LSH
    gate): seen band rows persisted bucketed on (rep, sig) are read
    co-located — only the new batch's band rows shuffle — and the
    sidecar-driven read pins planes/seed/repetitions/dim so a drifted
    reader cannot silently miss everything."""
    import numpy as np

    from pyspark.sql import functions as F

    from dask_histogram_spark.operators import (
        embedding_dedup_incremental, write_embedding_signature_table)

    rng = np.random.default_rng(3)
    base = rng.standard_normal((300, 16))
    seen = spark.createDataFrame(
        [(i, base[i].astype(float).tolist()) for i in range(300)],
        "vec_id long, embedding array<float>")
    write_embedding_signature_table(seen, "emb_sigs_bkt", planes=12,
                                    seed=5, repetitions=3, n_buckets=8,
                                    path=str(tmp_path / "esigs"))
    try:
        new = spark.createDataFrame(
            [(1000, base[7].astype(float).tolist()),                # re-ingest
             (1001, (base[9] + rng.standard_normal(16) * 0.01)
              .astype(float).tolist()),                             # near-dup
             (1002, rng.standard_normal(16).astype(float).tolist())],  # fresh
            "vec_id long, embedding array<float>")
        out = embedding_dedup_incremental(new, "emb_sigs_bkt",
                                          threshold=0.99)
        plan = _executed_plan(out)
        assert "Bucketed: true" in plan, plan[:800]
        sig_shuffles = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "sig" in l
        ]
        assert len(sig_shuffles) <= 1, sig_shuffles
        got = {r.vec_id: r.n_matched_seen for r in out.collect()}
        assert got[1000] >= 1 and got[1001] >= 1 and got[1002] == 0, got
    finally:
        spark.sql("DROP TABLE IF EXISTS emb_sigs_bkt")
        spark.sql("DROP TABLE IF EXISTS emb_sigs_bkt__params")


def test_contamination_near_dup_broadcasts_bench_no_train_shuffle(spark):
    """contamination_near_dup's at-scale shape: the benchmark's banded
    signature rows are BROADCAST (eval suites are MBs; the training
    corpus is the 100 TB side), so candidate matching is a broadcast
    hash join and the training table is minhashed + banded in place —
    the plan must contain NO (band, bucket)-keyed exchange at all
    (contrast dedup_incremental_lsh, where the NEW side shuffles onto
    the persisted bucketing: correct when the probe side is small,
    backwards when it is the corpus)."""
    from dask_histogram_spark.operators import contamination_near_dup

    body = ("a long benchmark body of words shared between the leak "
            "and its eval twin across many shingles of this text")
    bench = spark.createDataFrame(
        [(100, body)], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, body + " trailing edit"),
         (2, "fresh content qzx vbn with no overlap at all here")],
        "doc_id long, text string")
    out = contamination_near_dup(train, bench, num_perm=16, bands=4)
    plan = _executed_plan(out)
    assert "BroadcastHashJoin" in plan, plan[:800]
    # the ONLY permissible hash exchanges carry gate-passing candidate
    # rows (keyed on the __train_id/__bench_id aggregation) — never the
    # banded projection (bucket) and never the raw training relation
    # (doc_id): a bare 0-fill join-back would shuffle the full corpus
    bad_shuffles = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "__train_id" not in l
    ]
    assert not bad_shuffles, bad_shuffles
    got = {r.doc_id: r.n_matched_bench for r in out.collect()}
    assert got[1] >= 1 and got[2] == 0, got


def test_histograms_partial_aggregate_before_exchange(plans):
    """The fill must run its partial hash-agg map-side: the plan order is
    HashAggregate (partial) -> Exchange -> HashAggregate (final), so the
    shuffle carries <= nbins rows per partition."""
    for name in ("hist1d_double", "hist2d", "hist_strcat"):
        plan = plans[name]
        first_agg = plan.find("HashAggregate")
        first_exchange = plan.find("Exchange")
        assert first_agg != -1 and first_exchange != -1
        # plan string prints top-down: final agg, exchange, partial agg —
        # partial agg must exist BELOW the exchange
        assert "HashAggregate" in plan[first_exchange:], name


def test_token_vocabulary_widened_exchange_carries_partial_counts(spark):
    """The over-width safety plan must pre-aggregate per Arrow batch so
    the widened token exchange carries (token, partial_count) rows: the
    plan shows the Python map (ArrowEvalPython/MapInPandas) BELOW the
    token repartition, and NO explode anywhere — a bare
    repartition-below-groupBy would satisfy the aggregate's
    distribution and haul every raw occurrence (round-11 ADVICE)."""
    from unittest.mock import patch

    from dask_histogram_spark.operators import sizing, token_vocabulary
    from dask_histogram_spark.session import load_tables

    d = load_tables(spark, SF_DIR)["documents"]
    wide = 10 * sizing.current_shuffle_partitions(spark)
    with patch.object(sizing, "agg_partitions", return_value=wide):
        df = token_vocabulary(d, min_count=2, est_types=10**12)
    df.collect()
    plan = _executed_plan(df)
    assert "Generate explode" not in plan and "Explode" not in plan
    exch = plan.find("Exchange hashpartitioning(token")
    assert exch != -1, plan[:800]
    below = plan[exch:]
    assert ("MapInPandas" in below) or ("ArrowEval" in below) or (
        "mapInPandas" in below), below[:800]


def test_dedup_pipeline_registry_entry_executes_fused_candidates(
        spark, monkeypatch):
    """The registry's dedup_pipeline row must actually route through the
    fused one-shuffle candidate plan (the operator-level assert below
    checks the plan SHAPE; this one checks the registry entry's real
    call produces it — an uncapped call, whose mega-buckets would
    collect whole, would pass the other test unnoticed)."""
    import dask_histogram_spark.operators as ops

    real = ops.minhash_lsh_candidates
    captured = {}

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        captured["kwargs"] = kwargs
        captured["plan"] = _executed_plan(out)
        return out

    monkeypatch.setattr(ops, "minhash_lsh_candidates", spy)
    QUERIES["dedup_pipeline"](spark, SF_DIR)
    assert captured, "registry entry no longer calls minhash_lsh_candidates"
    assert captured["kwargs"].get("max_bucket") is not None
    plan = captured["plan"]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, \
        plan[:1200]
    assert "collect_list" in plan


@pytest.mark.parametrize("max_bucket,min_sig_matches",
                         [(20, None), (None, None), (20, 10), (None, 10)])
def test_fused_candidate_plan_has_no_self_join(spark, max_bucket,
                                               min_sig_matches):
    """Every cap/gate mix of the LSH candidates runs the ONE plan
    (window-capped bucket collect_list + combination explode): no join
    of any kind (no band self-join, no signature gate join) and no
    cached signature projection."""
    from dask_histogram_spark.operators import minhash_lsh_candidates
    from dask_histogram_spark.queries import get_tables

    d = get_tables(spark, SF_DIR)["documents"].select("doc_id", "text")
    plan = _executed_plan(minhash_lsh_candidates(
        d, num_perm=32, bands=8, max_bucket=max_bucket,
        min_sig_matches=min_sig_matches))
    assert "Join" not in plan, plan[:1200]
    assert "InMemoryRelation" not in plan, plan[:1200]
    assert "collect_list" in plan


def test_verify_shingle_projection_runs_spread(spark):
    """jaccard_verify_pairs must spread the involved docs before the
    shingle UDF: the corpus often arrives in 1-2 scan/cache partitions
    at small SF, and without the pre-UDF repartition the shingle pass
    AND both pair joins inherit that width (round-15: 2.8 s on 2 cores
    vs 0.6 s spread at sf0.1).  Pin the exchange between the semi-join
    and the ArrowEvalPython node."""
    from dask_histogram_spark.operators import jaccard_verify_pairs
    from dask_histogram_spark.queries import get_tables

    d = get_tables(spark, SF_DIR)["documents"].select("doc_id", "text")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long")
    plan = _executed_plan(jaccard_verify_pairs(
        pairs, d, k=8, threshold=0.5, broadcast_pairs=True))
    ix_rr = plan.find("RoundRobinPartitioning")
    ix_py = plan.find("ArrowEvalPython")
    assert ix_rr != -1, plan[:1200]
    assert ix_py != -1, plan[:1200]


def test_embedding_pipeline_registry_entry_probes_persisted_table(
        spark, monkeypatch):
    """The registry's embedding_dedup_pipeline row must route its
    incremental kind through the PERSISTED signature-table path —
    embedding_dedup_incremental called with the table NAME (so planes/
    seed/dim load from the __params sidecar) — not an ad-hoc DataFrame
    projection that would skip the bucketed no-exchange join the
    operator-level test above asserts."""
    import dask_histogram_spark.operators as ops
    import dask_histogram_spark.queries as q

    real = ops.embedding_dedup_incremental
    captured = {}

    def spy(new_df, seen_banded, *args, **kwargs):
        captured["seen"] = seen_banded
        return real(new_df, seen_banded, *args, **kwargs)

    monkeypatch.setattr(ops, "embedding_dedup_incremental", spy)
    out = QUERIES["embedding_dedup_pipeline"](spark, SF_DIR)
    assert isinstance(captured.get("seen"), str), captured
    assert spark.catalog.tableExists(captured["seen"] + "__params")
    kinds = {r.kind for r in out.select("kind").distinct().collect()}
    assert kinds == {"cluster", "incremental", "probe", "stream"}
    # the persisted table is session-cached: a second call reuses it
    n_tables = captured["seen"]
    QUERIES["embedding_dedup_pipeline"](spark, SF_DIR)
    assert captured["seen"] == n_tables


def test_lm_score_scoring_join_broadcasts_small_model(spark):
    """lm_score's scale claim: when the (pruned) model is small, the
    scoring joins are broadcast-hash — the document bigram stream
    never shuffles.  At test scale AQE sees the tiny count tables and
    must pick BroadcastHashJoin for both model joins (no sort-merge
    exchange on the scoring path)."""
    from dask_histogram_spark.operators import lm_score

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(200)],
        "doc_id long, text string")
    out = lm_score(df)
    out.collect()  # AQE finalizes the plan on execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints BOTH sections; the runtime choice is the Final Plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final[:1200]
    assert "SortMergeJoin" not in final, final[:1200]


@pytest.fixture(scope="module")
def staged_path(spark, tmp_path_factory):
    """A small parquet table shaped like perfbench hist_scan's."""
    path = str(tmp_path_factory.mktemp("staged") / "t.parquet")
    spark.range(5000).selectExpr(
        "CAST(id % 89 AS DOUBLE) / 10.0 - 4.0 AS x",
        "CAST(id % 83 AS DOUBLE) / 10.0 - 4.0 AS y",
        "CAST(id % 79 AS DOUBLE) / 8.0 AS z",
        "CAST(id % 5 AS DOUBLE) / 4.0 AS w",
        "element_at(array('alpha', 'beta', 'gamma'), CAST(id % 3 AS INT) + 1) AS cat",
        "CAST(id % 25 AS INT) + 1 AS icat",
    ).repartition(4).write.parquet(path)
    return path


def test_staged_histogram_reads_its_table_once(spark, staged_path):
    """Six fills on df and two on df.where views: one FileScan, one
    Generate, no Union."""
    import dask_histogram_spark as dhs
    from pyspark.sql import functions as F

    df = spark.read.parquet(staged_path)
    h = dhs.Histogram(dhs.Regular(50, -5.0, 5.0))
    h.fill(df, "x").fill(df, "y").fill(df, F.col("z") - 5.0)
    h.fill(df, "x", weight="w").fill(df, "y", weight="w")
    h.fill(df.where(F.col("cat") == "alpha"), "x")
    h.fill(df.where(F.col("cat") == "beta"), "y")
    h.fill(df, F.col("x") * 2.0)
    plan = _executed_plan(h.to_agg().to_sparse())
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "Union" not in plan, plan


def test_all_filtered_staged_fills_share_a_pushed_down_scan(spark, staged_path):
    """The reference's 25 fills over df.where(icat == i): one FileScan
    that carries the OR of the conditions as a pushed filter."""
    import dask_histogram_spark as dhs
    from pyspark.sql import functions as F

    df = spark.read.parquet(staged_path)
    h = dhs.Histogram(dhs.IntCategory(growth=True), dhs.Regular(8, -3.5, 3.5),
                      storage=dhs.Storage.WEIGHT)
    for i in range(25):
        h.fill(df.where(F.col("icat") == i + 1), "icat", "x", weight="w")
    plan = _executed_plan(h.to_agg().to_sparse())
    scans = [l for l in plan.splitlines() if "FileScan" in l]
    assert len(scans) == 1, plan
    assert "PushedFilters: []" not in scans[0] and "icat" in scans[0].split(
        "PushedFilters: ")[1], scans[0]
