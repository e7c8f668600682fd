"""Scale-blowup protocol for the flagship near-dup pipeline
(BASELINE.md "pipeline blowup" tables): synthetic healthy corpora at
increasing sizes through the de-flooded flagship configuration
(minhash_lsh_candidates(max_bucket=20, min_sig_matches=10) ->
hashed-shingle jaccard verify -> connected-component clustering),
with per-stage wall attribution.

Corpus protocol (same as round 4): random 16-word docs from a 5k-word
vocabulary + 10%% planted near-dups (3-char suffix).  Generation is
fully distributed and deterministic — word choice is xxhash64 of
(doc_id, position), so no driver-side data and no RNG state.

Usage: python scripts/blowup_pipeline.py [n_docs ...]
Defaults to the round-4 ladder plus the 1M point.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from dask_histogram_spark.operators import (  # noqa: E402
    dedup_clusters,
    jaccard_verify_pairs,
    minhash_lsh_candidates,
    release_candidates_cache,
    release_clusters_checkpoint,
)
from dask_histogram_spark.operators.dedup import (  # noqa: E402
    _release_local_checkpoint,
)
from dask_histogram_spark.session import get_spark  # noqa: E402


def synth_corpus(spark: SparkSession, n_docs: int,
                 vocab: int = 5000, words: int = 16,
                 dup_rate: float = 0.10, id_offset: int = 0) -> DataFrame:
    """(doc_id, text) corpus: ``n_docs`` total, of which ``dup_rate``
    are planted near-dups (base text + ' qqz' suffix) of the first
    ``n_docs * dup_rate`` base docs.  ``id_offset`` shifts ids BEFORE
    text generation (word choice hashes the id), giving a corpus with
    texts disjoint from an unshifted one."""
    n_dup = int(n_docs * dup_rate)
    n_base = n_docs - n_dup
    base = spark.range(n_base).select(
        (F.col("id") + id_offset).alias("doc_id")
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i)),
                           F.lit(vocab)),
                )
                for i in range(words)
            ],
        ).alias("text"),
    )
    dups = base.filter(F.col("doc_id") < id_offset + n_dup).select(
        (F.col("doc_id") + n_base).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqz")).alias("text"),
    )
    # Repartition so the signature fold runs on all cores, matching the
    # flagship's eager 64-way materialization of the real corpus.
    return base.unionByName(dups).repartition(64)


def run_point(spark: SparkSession, n_docs: int,
              label: str = "") -> dict[str, float]:
    corpus = synth_corpus(spark, n_docs).persist()
    n = corpus.count()  # materialize the corpus outside the timings

    t0 = time.perf_counter()
    cands = minhash_lsh_candidates(corpus, num_perm=32, bands=8,
                                   hash_fn="fnv1a32", max_bucket=20,
                                   min_sig_matches=10)
    pruned = cands.localCheckpoint()  # forces candidate generation
    n_cand = pruned.count()
    t_cand = time.perf_counter() - t0

    t0 = time.perf_counter()
    verified = jaccard_verify_pairs(pruned, corpus, k=8, threshold=0.5,
                                    persist=True)
    n_ver = verified.count()
    t_verify = time.perf_counter() - t0

    t0 = time.perf_counter()
    clusters = dedup_clusters(verified)  # eager (checkpoint per round)
    n_nodes = clusters.count()
    t_cluster = time.perf_counter() - t0

    release_candidates_cache(verified)
    release_clusters_checkpoint(clusters)
    _release_local_checkpoint(pruned)
    corpus.unpersist()
    total = t_cand + t_verify + t_cluster
    print(
        f"{n:>9,} docs{label}  total {total:6.1f}s  "
        f"cand {t_cand:6.1f}s ({n_cand:,} pairs)  "
        f"verify {t_verify:5.1f}s ({n_ver:,} pairs)  "
        f"cluster {t_cluster:5.1f}s ({n_nodes:,} nodes)  "
        f"{n / total / 1e3:6.1f}k docs/s",
        flush=True,
    )
    return {"docs": n, "total": total, "cand": t_cand,
            "verify": t_verify, "cluster": t_cluster}


def main() -> None:
    points = [int(a) for a in sys.argv[1:]] or [
        11_000, 110_000, 1_000_000,
    ]
    spark = get_spark("blowup", cpus=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                        "32")))
    spark.sparkContext.setLogLevel("ERROR")
    # one throwaway warm-up point to absorb JVM/codegen startup
    run_point(spark, 5_000, label=" (warmup)")
    print("--- points: cold rep then steady-state rep ---", flush=True)
    for n in points:
        run_point(spark, n, label=" (cold)")
        run_point(spark, n)
    spark.stop()


if __name__ == "__main__":
    main()
