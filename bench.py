"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Methodology: one warmup action to absorb JVM/session startup, then
each query timed as plan-build + collect (results are sparse bin
tables / small row sets, so collect is the honest cost).  Each query
reports the MEDIAN of 3 timed runs taken immediately after its own
warmup run: single-shot timings at sf0.1 sit on Spark's ~0.2-0.3 s
per-job scheduling floor with +/-0.1-0.2 s scheduler/GC noise, and
the round-3/4 drift analysis (BASELINE.md) traced every apparent
sub-second "regression" to that noise.  The median kills the outlier
without hiding a real regression (a true slowdown moves all three
reps).  Per-run spreads are reported under "spread" for audit.

Reading round-over-round numbers: whole-RUN totals additionally swing
+/-30% with machine state (documented in BASELINE.md's round-6
steady-state check — an immediate identical re-run moved every
floor-bound entry 25-40%).  The protocol is: never conclude a
regression from ONE run's delta; re-run first, and only investigate a
slowdown that survives the re-run AND moves a specific query's all
three reps.

Round 16 makes the bench SELF-DEFENDING (the r14/r15 verdicts' open
item: two rounds in a row were recorded on a loaded host): timing only
starts after host CPU pressure decays below 0.2 (bounded wait, logged
under "gate.psi_admission"), and a row whose max/median rep spread
exceeds 1.5x is re-timed up to twice with every attempt kept under
"gate.spread_retries" — the artifact carries its own admissibility
evidence instead of needing a hand-regenerated baseline.
SPARK_GRAFT_BENCH_COLD=1 additionally clears the probe/plan memos
before every timed rep (the memo-fence audit mode).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dask_histogram_spark.queries import (  # noqa: E402
    BENCH_EXTRAS,
    BENCH_VARIANTS,
    QUERIES,
    get_tables,
)
from dask_histogram_spark.session import get_spark  # noqa: E402

# Headline queries: histogram family core + each extension pillar.
BENCH_QUERIES = [
    "hist1d_double",
    "hist1d_weight",
    "hist1d_variable",
    "hist2d",
    "hist3d",
    "hist_strcat",
    "hist_mean",
    "hist_weighted_mean",
    "hist_multifill",
    "hist_arith",
    "hist_events_daily",
    "dedup_exact_stats",
    # cross-run dedup, both granularities (exact anti-join + the
    # persisted-signature-table LSH leg); the one-off signature-table
    # build is paid in the warmup rep, so the timed reps measure the
    # recurring nightly-batch cost
    "dedup_incremental",
    "text_stats",
    "text_language_id",
    "similarity_topk",
    "pipeline_prepare_corpus",
    # broadcast-gram contamination scan: one narrow pass over the
    # training side (the 100 TB-shaped plan — no join, no shuffle)
    "contamination_check",
    "similarity_ivf_topk",
    # The two heavy joins go LAST so their GC/cache aftermath cannot
    # inflate the sub-second queries (same reasoning as the per-query
    # interleaved warmup above).
    # max_df is the scale-honest jaccard configuration: without the
    # stopword cut the hottest shingle at sf0.1 appears in 77% of docs
    # and the inverted-index intermediate explodes quadratically
    # (221M candidate rows even after the cut; see BASELINE.md)
    "ngram_jaccard_maxdf",
    # stats twin, not the raw candidate set: the band join runs in full
    # but the 4M-row pair set stays distributed (collecting it would
    # time driver serialization, not the operator)
    "minhash_lsh_stats",
    # the flagship chained near-dup pipeline (LSH candidates -> exact
    # verify -> iterative connected components): measures the one pillar
    # the per-operator entries miss — clustering's iteration count x
    # shuffle cost on a duplicate-heavy corpus
    "dedup_pipeline",
    # same shape on the embedding modality: hyperplane-LSH pairs ->
    # connected components (~3.8 s steady at sf0.1).  BATCH legs only
    # (BENCH_VARIANTS): the correctness row's kind='stream' leg is a
    # real writeStream replay whose ~6-7 s fixed machinery cost made
    # the r9->r10 trend line non-comparable (round-10 VERDICT #3); it
    # is timed separately under "extras" below, outside the headline
    # total.
    "embedding_dedup_pipeline",
]


def _cpu_pressure_avg10() -> float | None:
    """Linux PSI cpu 'some avg10' — host-contention context baked into
    the bench artifact, so a noisy total carries its own evidence
    (bench totals on this host swing 35-57 s on identical code; the
    round-12/13 BASELINE drift notes).  None off-Linux/PSI-less."""
    try:
        with open("/proc/pressure/cpu") as f:
            line = f.readline()
        return float(line.split("avg10=")[1].split()[0])
    except Exception:
        return None


# --- self-defending measurement gates (round-16, carried from the
# round-14/15 verdicts: BENCH_r14 was recorded at PSI 1.17 and BENCH_r15
# at 0.71, so cross-round comparisons needed hand-regenerated baselines.
# The bench now defends itself and writes the evidence into the
# artifact) -----------------------------------------------------------
#
# Admission: refuse to START timing until host CPU pressure has decayed
# below _PSI_THRESHOLD, waiting in 15 s steps up to _PSI_WAIT_MAX_S
# (PSI avg10 half-lives in ~10 s, so a just-finished foreign burst
# clears quickly; a persistently loaded host is recorded as
# admitted=false rather than blocking the driver forever).
# Per-row spread: a row whose max/median exceeds _SPREAD_RATIO_MAX is
# re-timed (fresh reps, same warm state) up to _SPREAD_RETRIES times;
# every attempt — including discarded ones — is kept in the artifact
# under gate.spread_retries.  The first attempt inside the gate is the
# one recorded, or the last attempt when none passes; its index per row
# is gate.spread_selected.  Selecting by attempt order, not by lowest
# ratio, keeps the recorded median a single-attempt median (no
# best-of-3 bias).  Same timed action, same reps, same median — only
# re-armed when the spread gate trips, with the full audit trail
# retained.
_PSI_THRESHOLD = 0.2
_PSI_WAIT_MAX_S = 300.0
_SPREAD_RATIO_MAX = 1.5
_SPREAD_RETRIES = 2


def _psi_admission() -> dict:
    import time as _t

    attempts: list = []
    waited = 0.0
    while True:
        psi = _cpu_pressure_avg10()
        attempts.append(psi)
        ok = psi is None or psi <= _PSI_THRESHOLD
        if ok or waited >= _PSI_WAIT_MAX_S:
            return {"threshold": _PSI_THRESHOLD,
                    "attempts": attempts,
                    "waited_s": round(waited, 1),
                    "admitted": bool(ok)}
        _t.sleep(15.0)
        waited += 15.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    admission = _psi_admission()  # wait out foreign load BEFORE timing
    pressure_start = _cpu_pressure_avg10()
    spark = get_spark("dhs-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: cache the bench tables and materialize once.  This mirrors
    # the eager single-process baseline (BASELINE.md), which loads the
    # parquet into RAM once and then times pure compute; and it absorbs
    # JVM/codegen warmup.  (At real scale you wouldn't cache 100 TB —
    # but you also wouldn't re-scan per sub-second query.)
    tables = get_tables(spark, sf_dir)
    for name in ("lineitem", "orders", "customer", "events", "documents",
                 "embeddings"):
        tables[name] = tables[name].cache()
        tables[name].count()

    # Per-query warmup immediately before each timed run (codegen/JIT
    # compile, broadcast exchange init) — the steady-state number that
    # scales with data volume, not the one-time process warmup the
    # driver's eager baseline also excludes by loading into RAM first.
    # Interleaving warmup+timing per query (rather than a full warmup
    # pass then a full timed pass) keeps a heavy query's GC/cache
    # aftermath out of the next query's timing: measured at sf0.1, the
    # 221M-row jaccard join inflated every later sub-second query 5-10x
    # under the two-pass scheme.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    spread_retries: dict[str, list[dict]] = {}
    spread_selected: dict[str, int] = {}

    # SPARK_GRAFT_BENCH_COLD=1: clear the probe/plan memos before every
    # timed rep, so each rep pays the probes and collects an actual
    # cold invocation would (the memo-fence audit mode — session-built
    # artifacts like signature tables / the IVF index stay, see
    # queries.clear_bench_memos).  Default off: the steady-state
    # protocol in force since round 5.
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "") == "1"

    def timed_runs(fn) -> list[float]:
        from dask_histogram_spark.queries import clear_bench_memos

        runs = []
        for _ in range(reps):
            if cold:
                clear_bench_memos()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(round(time.perf_counter() - t0, 4))
        runs.sort()
        return runs

    def time_one(name, fn):
        fn(spark, sf_dir).collect()  # per-query warmup
        for attempt in range(_SPREAD_RETRIES + 1):
            runs = timed_runs(fn)
            med = runs[len(runs) // 2]
            ratio = runs[-1] / max(med, 1e-9)
            if ratio <= _SPREAD_RATIO_MAX:
                break
            # over-spread attempt: keep it on the record and re-arm
            spread_retries.setdefault(name, []).append(
                {"runs": runs, "ratio": round(ratio, 2)})
        # the first attempt inside the gate, else the last one
        spread_selected[name] = attempt
        return med, runs

    for name in BENCH_QUERIES:
        timings[name], spreads[name] = time_one(
            name, BENCH_VARIANTS.get(name, QUERIES[name]))

    # fixed-cost legs (streaming replays) timed OUTSIDE the headline
    # total so the trend line stays like-for-like across rounds
    extras: dict[str, float] = {}
    for name, fn in BENCH_EXTRAS.items():
        extras[name], spreads[name] = time_one(name, fn)

    total = round(sum(timings.values()), 4)
    print(
        json.dumps(
            {
                "metric": "total_wall_seconds_headline_queries",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extras": extras,
                "spread": spreads,
                "gate": {
                    "psi_admission": admission,
                    "spread_ratio_max": _SPREAD_RATIO_MAX,
                    "spread_retries": spread_retries,
                    "spread_selected": spread_selected,
                },
                "reps": reps,
                "cold": cold,
                "sf": sf,
                "cpus": cpus,
                "host": {"cpu_pressure_avg10_start": pressure_start,
                         "cpu_pressure_avg10_end": _cpu_pressure_avg10(),
                         "load_avg_end": None if not hasattr(os, "getloadavg")
                         else round(os.getloadavg()[0], 2)},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
