"""The composed corpus-construction chain, with exact planted
accounting: span dedup -> exact dedup -> near-dup dedup -> LM filter
-> contamination -> quota/mix -> prepare -> BPE -> pack -> shard sink
and read-back.

Every planted artifact must be removed by exactly the stage built to
remove it:

* a fifth of the base docs carry an 8-word footer span -> the span
  stage (policy='all', min_df=10, broadcast plan) strips exactly 8
  words from each;
* 10% of docs are verbatim copies of plain docs -> exact dedup removes
  exactly those;
* 5% are near-dups (a ' qqz' suffix) of other plain docs -> LSH ->
  jaccard verify -> connected components removes one doc per planted
  pair and no other doc;
* 5% are gibberish (corpus-unique tokens) -> lm_score under the
  production shape (min_count=2 pruned model) drops exactly them;
* ``N_BENCH`` surviving plain docs are copied into a benchmark frame ->
  contamination_check flags exactly those.

Text is a pure function of (doc_id, seed): word = xxhash64(id, pos,
seed) mod vocab.  The vocabulary shrinks with the corpus so that plain
bigrams repeat (about 20 occurrences per bigram type) while gibberish
bigrams stay singletons; the LM threshold follows the corpus size
(``lm_threshold``), so the separation holds at every size.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from dask_histogram_spark.operators import (
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
from dask_histogram_spark.operators.dedup import _release_local_checkpoint
from dask_histogram_spark.operators.pipeline import prepare_training_corpus
from dask_histogram_spark.sources import write_training_shards

WORDS = 16
FOOTER = " ".join(f"footer{i}" for i in range(8))
N_BENCH = 256


class CheckFailed(AssertionError):
    pass


def _chk(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: got {got!r}, want {want!r}")


def vocab_size(n_docs: int) -> int:
    """About 20 occurrences per plain bigram type, capped at the
    1M-doc vocabulary of 500 words."""
    return max(40, min(500, int((n_docs * (WORDS - 1) / 20) ** 0.5)))


def lm_threshold(n_docs: int, vocab: int) -> float:
    """Midpoint, in log10, between a plain doc's expected bigram
    probability and a gibberish doc's.  With add-1 smoothing an unseen
    bigram scores about 1/V, and V (the model's vocabulary) is
    dominated by the gibberish and footer-marker tokens, so the gap
    between the two is a function of corpus size."""
    v = n_docs // 20 * WORDS + n_docs // 5 + vocab
    plain = math.log10(21 / (n_docs * WORDS / vocab + v))
    gibberish = -math.log10(1 + v)
    return (plain + gibberish) / 2


def _words_of(id_col, seed: int, vocab: int, n: int = WORDS):
    return F.concat_ws(
        " ", *[F.concat(F.lit("w"),
                        F.pmod(F.xxhash64(id_col, F.lit(i), F.lit(seed)),
                               F.lit(vocab)))
               for i in range(n)])


def synth(spark: SparkSession, n_docs: int, seed: int):
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
    if n_base - plain0 < n_copy + n_near + N_BENCH:
        raise ValueError(f"n_docs={n_docs} too small for the plant layout")
    vocab = vocab_size(n_docs)

    def words(id_col, n=WORDS):
        return _words_of(id_col, seed, vocab, n)

    did = F.col("id").alias("doc_id")
    # gibberish tokens are hash-rendered (no literal id digits), so no
    # two gibberish docs share a structured substring
    gib = F.concat_ws(
        " ", *[F.concat(F.lit("zz"), F.xxhash64(F.col("id"), F.lit(i),
                                                F.lit(777), F.lit(seed)))
               for i in range(WORDS)])
    base = spark.range(n_base).select(
        did,
        F.when(F.col("id") < n_g, gib)
        # the word right before the footer is doc-unique ("u<id>") so
        # no window straddling the words/footer boundary repeats
        .when(F.col("id") < plain0,
              F.concat(words(F.col("id"), WORDS - 1),
                       F.lit(" u"), F.col("id"), F.lit(" " + FOOTER)))
        .otherwise(words(F.col("id"))).alias("text"))
    copies = spark.range(n_copy).select(
        (F.col("id") + n_base).alias("doc_id"),
        words(F.col("id") + plain0).alias("text"))
    nears = spark.range(n_near).select(
        (F.col("id") + n_base + n_copy).alias("doc_id"),
        F.concat(words(F.col("id") + plain0 + n_copy),
                 F.lit(" qqz")).alias("text"))
    acct = {"n_docs": n_docs, "n_copy": n_copy, "n_near": n_near,
            "n_gib": n_g, "n_footer": n_f, "near0": n_base + n_copy,
            "bench0": plain0 + n_copy + n_near, "vocab": vocab}
    return base.unionByName(copies).unionByName(nears) \
        .repartition(16), acct


class Laps:
    """Wall-clock laps of a timed region; time spent in ``excluded()``
    (output checks) is left out of every lap."""

    def __init__(self, tr) -> None:
        self._tr = tr
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()
        self._excluded = 0.0

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = now - self._t - self._excluded
        self._t, self._excluded = now, 0.0

    @contextlib.contextmanager
    def excluded(self):
        t0 = time.perf_counter()
        with self._tr.span("check", "check"):
            yield
        self._excluded += time.perf_counter() - t0


def run_chain(spark: SparkSession, n_docs: int, seed: int, scratch: str,
              tr, pairs: dict | None = None) -> tuple[dict, dict]:
    """One composed run in ``spark``; ``tr`` is the run's tracer.
    Stage outputs are materialized with ``localCheckpoint()`` so
    lineage stays short, and each stage's checkpoint is released once
    its consumer is materialized.  When ``pairs`` is given, the
    candidate and verified pair counts are stored in it (check-time
    counts on the checkpointed frames).

    Returns ``(laps, counts)``: seconds per stage (build plus
    materialization, output checks excluded) and rows per stage.
    Raises ``CheckFailed`` on any accounting mismatch."""
    with tr.span("input", "input"):
        corpus, a = synth(spark, n_docs, seed)
        corpus = corpus.localCheckpoint()
        _chk("corpus rows", corpus.count(), n_docs)
    laps = Laps(tr)
    counts: dict[str, int] = {"input": n_docs}
    live = [corpus]

    def stage(name, layer, frame: DataFrame, keep_cols=("doc_id", "text")):
        with tr.exec(layer):
            out = frame.select(*keep_cols).localCheckpoint()
            n = out.count()
        counts[name] = n
        while live:
            _release_local_checkpoint(live.pop())
        live.append(out)
        laps.lap(name)
        return out, n

    # 1. span stage: strip the planted footer everywhere
    spans, _ = stage("span", "operators.spans", remove_duplicate_spans(
        corpus, n=6, min_df=10, policy="all", plan="broadcast",
        est_windows="sample"),
        keep_cols=("doc_id", "n_removed_words", "clean_text"))
    with laps.excluded():
        removed = spans.agg(F.sum("n_removed_words")).first()[0]
    _chk("span rows", counts["span"], n_docs)
    _chk("span removed words", removed, 8 * a["n_footer"])
    spans = spans.select("doc_id", F.col("clean_text").alias("text"))

    # 2. exact dedup: verbatim copies die, nothing else
    ex, n_ex = stage("exact", "operators.dedup", spans.join(
        dedup_exact(spans).select("doc_id"), "doc_id"))
    _chk("exact survivors", n_ex, n_docs - a["n_copy"])

    # 3. near-dup chain (the production configuration)
    cands = minhash_lsh_candidates(ex, num_perm=32, bands=8,
                                   hash_fn="fnv1a32", max_bucket=20,
                                   min_sig_matches=10)
    with tr.exec("operators.dedup"):
        pruned = cands.localCheckpoint()
    verified = jaccard_verify_pairs(pruned, ex, k=8, threshold=0.5,
                                    persist=True)
    clusters = dedup_clusters(verified)
    with tr.exec("operators.dedup"):
        losers = clusters.where(F.col("cluster_id") != F.col("doc_id")) \
            .select("doc_id").localCheckpoint()
        nd = ex.join(losers, "doc_id", "left_anti").localCheckpoint()
        n_nd = nd.count()
    counts["near_dup"] = n_nd
    laps.lap("near_dup")
    with laps.excluded():
        if pairs is not None:
            pairs["candidate_pairs"] = pruned.count()
            pairs["verified_pairs"] = verified.count()
        # no doc outside the planted near-dup id range may be removed,
        # and every planted pair must be caught (the bucket cap loses
        # none at this size)
        unplanned = losers.where(F.col("doc_id") < a["near0"]).count()
    _chk("unplanned near-dup removals", unplanned, 0)
    _chk("near-dup removals", n_ex - n_nd, a["n_near"])
    release_candidates_cache(cands)
    release_candidates_cache(verified)
    release_clusters_checkpoint(clusters)
    _release_local_checkpoint(pruned)
    while live:
        _release_local_checkpoint(live.pop())
    _release_local_checkpoint(losers)
    live.append(nd)

    # 4. LM quality filter: gibberish bigrams are pruned from the model
    kept_lm, n_lm = stage("lm_filter", "operators.text", lm_score(
        nd, min_count=2, est_bigrams=(WORDS + 8) * n_docs)
        .where(F.col("avg_lp10") >= F.lit(lm_threshold(n_docs, a["vocab"]))))
    _chk("lm survivors", n_lm, n_nd - a["n_gib"])

    # 5. contamination: N_BENCH known surviving plain docs, verbatim
    bench = spark.range(N_BENCH).select(
        F.col("id").alias("doc_id"),
        _words_of(F.col("id") + a["bench0"], seed, a["vocab"]).alias("text"))
    cont = contamination_check(kept_lm, bench, n=6, threshold=0.5)
    clean, n_cl = stage("contamination", "operators.pipeline",
                        cont.where(F.col("contaminated") == 0)
                        .join(kept_lm, "doc_id"))
    _chk("decontaminated", n_cl, n_lm - N_BENCH)

    # 6. mix/quota: 4 sources capped at 80% of the smallest, then split
    src = clean.withColumn(
        "source", F.concat(F.lit("s"), F.pmod("doc_id", F.lit(4))))
    with tr.exec("operators.pipeline"):
        per = {r["source"]: r["n"] for r in
               src.groupBy("source").agg(F.count("*").alias("n")).collect()}
    q = int(0.8 * min(per.values()))
    quota = quota_sample(src, q, group_col="source", seed=13)
    mixed, n_mix = stage(
        "quota_mix", "operators.pipeline",
        hash_split(quota, {"train": 0.95, "val": 0.05}),
        keep_cols=("doc_id", "text", "source", "split"))
    _chk("quota kept", n_mix, sum(min(q, v) for v in per.values()))

    # 7. prepare: nothing planted fails the gates
    prep = prepare_training_corpus(mixed, min_chars=40,
                                   max_digit_ratio=0.95, min_tokens=5)
    docs, n_prep = stage(
        "prepare", "operators.pipeline",
        mixed.join(prep.select("doc_id", "n_bpe_tokens"), "doc_id"),
        keep_cols=("doc_id", "text", "source", "split"))
    _chk("prepare kept", n_prep, n_mix)

    # 8. BPE: train on a bounded sample, encode the full corpus
    merges = train_bpe(docs.limit(50_000), 50)
    enc, n_enc = stage("bpe_encode", "operators.bpe", apply_bpe(docs, merges),
                       keep_cols=("doc_id", "source", "split", "n_bpe"))
    _chk("bpe rows", n_enc, n_prep)

    # 9. pack: a sequence may overshoot 512 only by its straddling doc
    with laps.excluded():
        max_doc = enc.agg(F.max("n_bpe")).first()[0]
    packed, n_pk = stage(
        "pack", "operators.pipeline",
        pack_sequences(enc, max_tokens=512, tokens_col="n_bpe",
                       group_col="split"),
        keep_cols=("doc_id", "source", "split", "n_bpe", "seq_id"))
    _chk("pack rows", n_pk, n_enc)
    with laps.excluded():
        worst = (packed.groupBy("split", "seq_id")
                 .agg(F.sum("n_bpe").alias("t"))
                 .agg(F.max("t")).first()[0])
    if worst >= 512 + max_doc:
        raise CheckFailed(f"pack budget: {worst} >= 512+{max_doc}")

    # 10. sink: sharded write + manifest, then the read-back check
    d = tempfile.mkdtemp(prefix="shards_", dir=scratch)
    try:
        out = os.path.join(d, "shards")  # the sink refuses an existing path
        with tr.exec("sources.io"):
            man = write_training_shards(packed, out, n_shards=16)
        laps.lap("sink")
        with laps.excluded():
            back = spark.read.parquet(out).count()
        _chk("manifest rows", man["total_rows"], n_pk)
        _chk("readback rows", back, n_pk)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    while live:
        _release_local_checkpoint(live.pop())
    return laps.laps, counts
