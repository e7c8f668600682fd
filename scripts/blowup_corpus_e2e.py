"""COMPOSED corpus-construction rehearsal (round-9 VERDICT #1): the
full training-data chain as ONE run with per-stage walls and EXACT
planted accounting — span dedup -> exact doc dedup -> near-dup dedup
-> LM quality filter -> contamination -> quota/mix -> BPE encode ->
pack_sequences -> write_training_shards.

Every stage has its own ladder elsewhere; this measures what those
cannot see — cache pressure between stages, checkpoint interactions,
cumulative driver load — and asserts every planted artifact is
removed by exactly the stage built to remove it:

* every 5th-ish base doc carries an 8-word FOOTER span (planted on a
  contiguous id range) -> span stage (policy='all', min_df=10,
  broadcast plan) strips exactly 8 words from each;
* 10%% of docs are verbatim COPIES of plain docs -> exact dedup
  removes exactly those;
* 5%% are NEAR-DUPS (' qqz' suffix) of other plain docs -> the
  LSH -> jaccard-verify -> connected-components chain removes one
  doc per planted pair and nothing else;
* 5%% are GIBBERISH (corpus-unique tokens, so every bigram is a
  singleton) -> lm_score under the PRODUCTION shape (min_count=2
  pruned-broadcast model) scores them ~1.5 decades below plain docs;
  avg_lp10 < -5 drops exactly them;
* K surviving plain docs are copied into a benchmark frame ->
  contamination_check flags exactly those K.

Text is a pure function of doc_id (word = xxhash64(id, pos) mod
vocab), so plants are reproduced closed-form with no driver-side
data.  vocab=500 keeps plain bigram counts high (c2 ~ 60 per type at
1M docs) while gibberish bigrams stay singletons — the LM separation
is structural, not tuned.

Usage: python scripts/blowup_corpus_e2e.py [n_docs ...]
Defaults to 1M and 10M (BASELINE.md round-10 table).  Set
SPARK_DRIVER_MEMORY for the 10M point (the span stage's memory
preflight sizes its own gram shuffle, but the near-dup + LM stages
hold two persisted corpus editions).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from dask_histogram_spark.operators import (  # noqa: E402
    apply_bpe,
    contamination_check,
    dedup_clusters,
    dedup_exact,
    hash_split,
    jaccard_verify_pairs,
    lm_score,
    minhash_lsh_candidates,
    pack_sequences,
    quota_sample,
    release_candidates_cache,
    release_clusters_checkpoint,
    remove_duplicate_spans,
    train_bpe,
)
from dask_histogram_spark.operators.dedup import (  # noqa: E402
    _release_local_checkpoint,
)
from dask_histogram_spark.operators.pipeline import (  # noqa: E402
    prepare_training_corpus,
)
from dask_histogram_spark.session import get_spark  # noqa: E402

VOCAB = 500
WORDS = 16
FOOTER = " ".join(f"footer{i}" for i in range(8))
N_BENCH = 1024
LM_THRESH = -5.0


def _words_of(id_col, n: int = WORDS):
    return F.concat_ws(
        " ", *[F.concat(F.lit("w"),
                        F.pmod(F.xxhash64(id_col, F.lit(i)),
                               F.lit(VOCAB)))
               for i in range(n)])


def synth(spark: SparkSession, n_docs: int):
    """Planted corpus; returns (df, accounting dict).  Id layout:
    [0, n_g) gibberish | [n_g, n_g+n_f) footer | [.., n_base) plain |
    [n_base, +n_copy) verbatim copies of the first plain ids |
    [.., +n_near) ' qqz' near-dups of the next plain ids."""
    n_copy = n_docs // 10
    n_near = n_docs // 20
    n_base = n_docs - n_copy - n_near
    n_g = n_docs // 20
    n_f = n_docs // 5
    plain0 = n_g + n_f
    n_plain = n_base - plain0
    assert n_plain >= n_copy + n_near + N_BENCH, "layout overflow"

    did = F.col("id").alias("doc_id")
    # gibberish tokens are HASH-rendered, not "zz<id>x<i>": literal id
    # digits made repeated-digit id families (1111 vs 11111, 2226 vs
    # 22226, ...) whose char-8-gram sets NEST — "zz1111x5" is nearly a
    # substring family of "zz11111x5" — pushing exact char-jaccard
    # past the 0.5 verify gate (37 unplanned near-dup pairs at 1M;
    # caught by this script's exact accounting).  xxhash64 digits
    # share no structured substrings, so gibberish docs stay unique
    # for BOTH the LM model (singleton bigrams) and the near-dup tier
    gib = F.concat_ws(
        " ", *[F.concat(F.lit("zz"), F.xxhash64(F.col("id"), F.lit(i),
                                                F.lit(777)))
               for i in range(WORDS)])
    base = spark.range(n_base).select(
        did,
        F.when(F.col("id") < n_g, gib)
        .when(F.col("id") < plain0,
              # the word RIGHT BEFORE the footer is doc-unique
              # ("u<id>") so every window straddling the
              # words/footer boundary is unique: with a mod-VOCAB
              # word there the straddle window at position 15
              # repeats n_f/VOCAB times — over min_df at scale,
              # silently widening the removal by one word per doc
              # (and by a SCALE-DEPENDENT amount at 10M, where even
              # two-word prefixes cross min_df) — found by the 100k
              # smoke run's exact accounting, which is the point of it
              F.concat(_words_of(F.col("id"), WORDS - 1),
                       F.lit(" u"), F.col("id"),
                       F.lit(" " + FOOTER)))
        .otherwise(_words_of(F.col("id"))).alias("text"))
    copies = spark.range(n_copy).select(
        (F.col("id") + n_base).alias("doc_id"),
        _words_of(F.col("id") + plain0).alias("text"))
    nears = spark.range(n_near).select(
        (F.col("id") + n_base + n_copy).alias("doc_id"),
        F.concat(_words_of(F.col("id") + plain0 + n_copy),
                 F.lit(" qqz")).alias("text"))
    acct = {"n_docs": n_docs, "n_copy": n_copy, "n_near": n_near,
            "n_gib": n_g, "n_footer": n_f,
            "near0": n_base + n_copy,
            "bench0": plain0 + n_copy + n_near}
    return base.unionByName(copies).unionByName(nears) \
        .repartition(64), acct


def _chk(name: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{name}: got {got!r}, want {want!r}")


def run_point(spark: SparkSession, n_docs: int) -> dict:
    """One composed run.  Stage outputs are materialized with
    localCheckpoint(), NOT just persist(): the 100k smoke run OOM'd
    the 8g driver heap with TEN stages of accumulated lineage — not
    in any task, but in AQE's plan-STRING rendering
    (QueryExecution.explainString on every plan update walks the
    full logical tree, whose synth-literal projections compound per
    stage).  Truncating lineage at stage boundaries is exactly what
    a production pipeline does between major phases; per-operator
    ladders can never see this failure mode, which is the point of
    the composed rehearsal.  Each stage's checkpoint is released as
    soon as its consumer is materialized, so peak footprint is two
    corpus editions."""
    corpus, a = synth(spark, n_docs)
    corpus = corpus.localCheckpoint()
    _chk("corpus rows", corpus.count(), n_docs)
    walls: dict[str, float] = {}
    counts: dict[str, int] = {"input": n_docs}
    live = [corpus]

    def stage(name, frame: DataFrame, keep_cols=("doc_id", "text")):
        """Materialize a stage (checkpoint = wall), release the
        previous stage's storage once this one is safe."""
        t0 = time.perf_counter()
        out = frame.select(*keep_cols).localCheckpoint()
        n = out.count()
        walls[name] = round(time.perf_counter() - t0, 1)
        counts[name] = n
        while live:
            _release_local_checkpoint(live.pop())
        live.append(out)
        return out, n

    # 1. span stage: strip the planted footer everywhere (boilerplate
    # mode: policy='all', min_df=10, broadcast plan, self-sized gram
    # shuffle via est_windows='sample' -> exercises the round-10
    # memory preflight); the removed-word audit rides the same
    # checkpointed output
    spans, _ = stage("span", remove_duplicate_spans(
        corpus, n=6, min_df=10, policy="all", plan="broadcast",
        est_windows="sample"),
        keep_cols=("doc_id", "n_removed_words", "clean_text"))
    removed = spans.agg(F.sum("n_removed_words")).first()[0]
    _chk("span rows", counts["span"], n_docs)
    _chk("span removed words", removed, 8 * a["n_footer"])
    spans = spans.select("doc_id", F.col("clean_text").alias("text"))

    # 2. exact dedup: verbatim copies die, nothing else (dedup_exact
    # returns winner ids + n_copies; text rides back in on the id)
    ex, n_ex = stage("exact", spans.join(
        dedup_exact(spans).select("doc_id"), "doc_id"))
    _chk("exact survivors", n_ex, n_docs - a["n_copy"])

    # 3. near-dup chain (the flagship configuration)
    t0 = time.perf_counter()
    cands = minhash_lsh_candidates(ex, num_perm=32, bands=8,
                                   hash_fn="fnv1a32", max_bucket=20,
                                   min_sig_matches=10)
    pruned = cands.localCheckpoint()
    verified = jaccard_verify_pairs(pruned, ex, k=8, threshold=0.5,
                                    persist=True)
    clusters = dedup_clusters(verified)
    losers = clusters.where(F.col("cluster_id") != F.col("doc_id")) \
        .select("doc_id").localCheckpoint()
    nd = ex.join(losers, "doc_id", "left_anti").localCheckpoint()
    n_nd = nd.count()
    walls["near_dup"] = round(time.perf_counter() - t0, 1)
    counts["near_dup"] = n_nd
    # accounting is split by TIER semantics: false positives are an
    # exactness contract (no non-planted doc may EVER be removed —
    # planted near ids are the top id range, so any loser below it is
    # a false removal), while the candidate tier's recall is
    # bounded-and-REPORTED, not assumed perfect: max_bucket=20 drops
    # mega-bucket candidates by design ("no silent caps"), and at 10M
    # docs a handful of planted pairs land in capped buckets (5 of
    # 500k measured = 99.999% recall).  A silent == assertion here
    # would conflate the two failure modes.
    n_unplanned = losers.where(F.col("doc_id") < a["near0"]).count()
    _chk("unplanned near-dup removals", n_unplanned, 0)
    missed = a["n_near"] - (n_ex - n_nd)
    counts["near_dup_missed"] = missed
    budget = max(1, round(2e-5 * a["n_near"]) * 10)
    if missed > budget:
        raise AssertionError(
            f"near-dup recall: {missed} planted pairs missed "
            f"(> budget {budget}) — beyond bucket-cap loss")
    release_candidates_cache(verified)
    release_clusters_checkpoint(clusters)
    _release_local_checkpoint(pruned)
    while live:
        _release_local_checkpoint(live.pop())
    _release_local_checkpoint(losers)
    live.append(nd)

    # 4. LM quality filter, PRODUCTION shape: min_count=2 prunes every
    # gibberish bigram from the model (they are corpus-unique), the
    # pruned head broadcasts, and gibberish docs score ~1.5 decades
    # under plain docs -> avg_lp10 >= -5 keeps exactly the non-planted
    kept_lm, n_lm = stage("lm_filter", lm_score(
        nd, min_count=2, est_bigrams=(WORDS + 8) * n_docs)
        .where(F.col("avg_lp10") >= F.lit(LM_THRESH)))
    _chk("lm survivors", n_lm, n_nd - a["n_gib"])
    # (downstream counts derive from n_nd, so the reported recall
    # misses flow through the later exact checks unchanged)

    # 5. contamination: benchmark = verbatim texts of N_BENCH known
    # surviving plain docs (recomputed closed-form) -> exactly those
    # flagged at ratio 1.0
    bench = spark.range(N_BENCH).select(
        F.col("id").alias("doc_id"),
        _words_of(F.col("id") + a["bench0"]).alias("text"))
    cont = contamination_check(kept_lm, bench, n=6, threshold=0.5)
    clean, n_cl = stage("contamination",
                        cont.where(F.col("contaminated") == 0)
                        .join(kept_lm, "doc_id"))
    _chk("decontaminated", n_cl, n_lm - N_BENCH)

    # 6. mix/quota: 4 synthetic sources, exact top-N-by-hash cap at
    # 80% of the smallest source, then the zero-shuffle hash split
    t0 = time.perf_counter()
    src = clean.withColumn(
        "source", F.concat(F.lit("s"), F.pmod("doc_id", F.lit(4))))
    per = {r["source"]: r["n"] for r in
           src.groupBy("source").agg(F.count("*").alias("n")).collect()}
    q = int(0.8 * min(per.values()))
    quota = quota_sample(src, q, group_col="source", seed=13)
    walls["quota_count"] = round(time.perf_counter() - t0, 1)
    mixed, n_mix = stage(
        "quota_mix", hash_split(quota, {"train": 0.95, "val": 0.05}),
        keep_cols=("doc_id", "text", "source", "split"))
    _chk("quota kept", n_mix, sum(min(q, v) for v in per.values()))

    # 7. prepare (quality gates + token accounting; nothing planted
    # fails the gates, so the count must ride through)
    prep = prepare_training_corpus(mixed, min_chars=40,
                                   max_digit_ratio=0.95, min_tokens=5)
    docs, n_prep = stage(
        "prepare", mixed.join(prep.select("doc_id", "n_bpe_tokens"),
                              "doc_id"),
        keep_cols=("doc_id", "text", "source", "split"))
    _chk("prepare kept", n_prep, n_mix)

    # 8. BPE: train on a bounded sample (the documented iterative
    # exemption), encode the full corpus
    t0 = time.perf_counter()
    merges = train_bpe(docs.limit(50_000), 50)
    walls["bpe_train"] = round(time.perf_counter() - t0, 1)
    enc, n_enc = stage("bpe_encode", apply_bpe(docs, merges),
                       keep_cols=("doc_id", "source", "split",
                                  "n_bpe"))
    _chk("bpe rows", n_enc, n_prep)

    # 9. pack: fixed 512-token budget per (split) group; a sequence
    # may overshoot only by its straddling doc
    max_doc = enc.agg(F.max("n_bpe")).first()[0]
    packed, n_pk = stage(
        "pack", pack_sequences(enc, max_tokens=512,
                               tokens_col="n_bpe", group_col="split"),
        keep_cols=("doc_id", "source", "split", "n_bpe", "seq_id"))
    _chk("pack rows", n_pk, n_enc)
    worst = (packed.groupBy("split", "seq_id")
             .agg(F.sum("n_bpe").alias("t"))
             .agg(F.max("t")).first()[0])
    if worst >= 512 + max_doc:
        raise AssertionError(f"pack budget: {worst} >= 512+{max_doc}")

    # 10. sink: sharded write + manifest + read-back reconciliation
    t0 = time.perf_counter()
    d = tempfile.mkdtemp(prefix="dhs_e2e_shards_")
    try:
        from dask_histogram_spark.sources import write_training_shards

        out = os.path.join(d, "shards")  # sink refuses a pre-existing path
        man = write_training_shards(packed, out, n_shards=64)
        _chk("manifest rows", man["total_rows"], n_pk)
        _chk("readback rows", spark.read.parquet(out).count(), n_pk)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    walls["sink"] = round(time.perf_counter() - t0, 1)
    while live:
        _release_local_checkpoint(live.pop())

    total = round(sum(walls.values()), 1)
    print(f"{n_docs:>10,} docs  TOTAL {total:7.1f}s  " +
          "  ".join(f"{k} {v:.1f}s" for k, v in walls.items()),
          flush=True)
    print(f"            counts: {counts}", flush=True)
    return {"docs": n_docs, "total": total, "walls": walls,
            "counts": counts}


def main() -> None:
    points = [int(x) for x in sys.argv[1:]] or [1_000_000, 10_000_000]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("dhs-e2e", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for n in points:
        run_point(spark, n)
    spark.stop()


if __name__ == "__main__":
    main()
