"""Shared shuffle-sizing helpers for the big hash aggregates.

Three pillars run a corpus-cardinality hash aggregate whose reduce-side
map is the dominant memory risk at 100-TB scale: the span-dedup gram
aggregate (operators/spans.py), lm_score's bigram model aggregate
(operators/text.py), and the token_vocabulary aggregate
(operators/pipeline.py).  Round 10 grew two private copies of the same
sizing logic (groups-per-task target + memory-budget floor + actionable
over-cap error); this module is the single implementation (round-10
VERDICT #5).

The model (calibrated on the round-8 100M-doc span capstone, see
BASELINE.md): the reduce-side hash map holds ~groups/partitions entries
per task at ~64 B each (8-16 B key + count + payload struct +
open-addressing overhead), and ``slots`` concurrent tasks share ~60% of
the executor heap (Spark's default execution+storage fraction).  The
round-8 OOM datum — 53M groups/task x 32 concurrent maps killing a
96 GiB heap — implies >= 56 B/group; ~8M groups/task ran clean.
"""

from __future__ import annotations

import re

__all__ = [
    "TARGET_GROUPS_PER_TASK",
    "MAX_AGG_PARTITIONS",
    "parts_for_memory",
    "agg_partitions",
    "fold_partitions",
    "scratch_budget",
    "check_shuffle_scratch",
    "memoized_probe",
    "clear_probe_memo",
]

# safe reduce-side group count per task (round-8 capstone measurement)
TARGET_GROUPS_PER_TASK = 8_000_000
# preflight model parameters — see module docstring
BYTES_PER_GROUP = 64
BUDGET_FRACTION = 0.6
# widening the shuffle past this is no longer a sane fix — raise the
# actionable error instead of scheduling hundreds of thousands of
# tiny tasks
MAX_AGG_PARTITIONS = 200_000


def _parse_mem(s: str) -> int:
    """'4g' / '512m' / '96G' -> bytes (0 when unparseable)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", s.lower())
    if not m:
        return 0
    suf = m.group(2)
    return int(m.group(1)) * (1024 ** (0 if not suf
                                       else "kmgt".index(suf) + 1))


def parts_for_memory(spark, est_groups: int, *,
                     unit: str = "groups",
                     remedies: tuple[str, ...] = ()) -> int:
    """Memory-aware floor on a hash aggregate's partition count:
    enough partitions that the CONCURRENT reduce-side hash maps
    (slots x groups-per-task x ~64 B) fit ~60% of the executor heap.
    local[*]: the driver JVM's real ``Runtime.maxMemory`` with
    ``defaultParallelism`` slots; cluster: ``spark.executor.memory``
    / ``spark.executor.cores`` when both are set.  Returns 0 when the
    budget cannot be determined (no widening, no raise — the
    ~8M-groups/task target still applies).  Raises RuntimeError with
    the numbers, the caller's ``unit`` noun, and the caller's
    operator-appropriate ``remedies`` when even
    ``MAX_AGG_PARTITIONS``-way widening cannot fit — an actionable
    preflight instead of a mid-job OOM.  (The remedy list is
    per-operator by design: span-dedup advice like "min_df with
    plan='broadcast'" is wrong for an lm_score caller — round-10
    ADVICE.)
    """
    try:
        sc = spark.sparkContext
        master = sc.master or ""
        if master.startswith("local"):
            slots = int(sc.defaultParallelism)
            heap = int(spark._jvm.java.lang.Runtime
                       .getRuntime().maxMemory())
        else:
            heap = _parse_mem(spark.conf.get("spark.executor.memory",
                                             "") or "")
            slots = int(spark.conf.get("spark.executor.cores", "0")
                        or 0)
            if not heap or not slots:
                return 0
    except Exception:  # pragma: no cover - jvm/conf access denied
        return 0
    budget = BUDGET_FRACTION * heap
    if budget <= 0:
        return 0
    parts = -(-int(est_groups) * BYTES_PER_GROUP * slots
              // int(budget))
    if parts > MAX_AGG_PARTITIONS:
        gib = est_groups * BYTES_PER_GROUP * slots / (
            MAX_AGG_PARTITIONS * 2 ** 30)
        fixes = (
            "Raise the heap (SPARK_DRIVER_MEMORY for local[*] runs, "
            "spark.executor.memory on a cluster)",
        ) + tuple(remedies)
        raise RuntimeError(
            f"aggregate-sizing preflight: ~{est_groups:,} {unit} need "
            f"~{gib:.0f} GiB of concurrent aggregate memory even at "
            f"the {MAX_AGG_PARTITIONS:,}-partition widening cap, but "
            f"only ~{budget / 2 ** 30:.1f} GiB of execution budget is "
            f"available ({slots} concurrent tasks). "
            + "; or ".join(fixes) + ".")
    return int(parts)


# a shuffle's on-disk footprint runs ~2x its exchange bytes: sorted
# map-output files plus fetch-side sort/merge spill coexist while the
# reduce stage drains.  Two measured points (BASELINE): the round-11
# 10M embedding ladder (~48 GB exchange filled a ~79 GB volume to the
# 97% kill line, ratio >= ~1.6 at death) and the round-13 peak-sampled
# corroboration at a different operating point (2M x dim128 x reps4:
# peak scratch sampled during the run 14.63 GiB / 8.23 GiB modeled
# exchange = 1.78)
SHUFFLE_SCRATCH_SAFETY = 2.0


def scratch_budget(spark):
    """Free bytes on the shuffle-scratch volume, or ``None`` when the
    budget is UNKNOWN.  local[*]: the first entry of Spark's own
    local-dir resolution order — ``SPARK_LOCAL_DIRS`` env (which
    OVERRIDES the conf when set, see Utils.getConfiguredLocalDirs),
    else ``spark.local.dir``, else ``java.io.tmpdir`` — probed with
    ``shutil.disk_usage``.  Cluster: None — executor-local disks are
    not visible from the driver, so shuffle-volume preflights are
    advisory-only off local mode.  A literal 0 is a REAL answer (the
    volume is full), distinct from unknown — conflating them would
    make the one state where any shuffle is guaranteed to die the one
    the preflight waves through (round-12 review)."""
    import os
    import shutil

    try:
        sc = spark.sparkContext
        if not (sc.master or "").startswith("local"):
            return None
        d = (os.environ.get("SPARK_LOCAL_DIRS", None)
             or spark.conf.get("spark.local.dir", None)
             or spark._jvm.java.lang.System.getProperty("java.io.tmpdir"))
        return int(shutil.disk_usage(str(d).split(",")[0]).free)
    except Exception:  # pragma: no cover - jvm/fs access denied
        return None


def check_shuffle_scratch(spark, est_bytes: int, *, what: str,
                          remedies: tuple[str, ...] = ()) -> None:
    """Preflight a data-sized shuffle against the scratch volume:
    raise an actionable RuntimeError when ``~SHUFFLE_SCRATCH_SAFETY x
    est_bytes`` exceeds the free scratch space — the disk-full twin of
    :func:`parts_for_memory`'s heap preflight (widening partitions
    cannot save a shuffle whose TOTAL bytes exceed the volume, so the
    only fixes are shrinking the exchange or adding disk, and the
    caller names which levers it owns).  No-op when the budget is
    unknown (cluster mode / probe failure); a known-zero budget
    raises like any other over-budget case."""
    free = scratch_budget(spark)
    if free is None:
        return
    need = SHUFFLE_SCRATCH_SAFETY * int(est_bytes)
    if need > free:
        fixes = ("Add shuffle scratch space (spark.local.dir on a "
                 "larger volume)",) + tuple(remedies)
        raise RuntimeError(
            f"shuffle-scratch preflight: {what} would exchange "
            f"~{est_bytes / 2 ** 30:.1f} GiB (~{need / 2 ** 30:.1f} GiB "
            f"of scratch with sort spill), but only "
            f"~{free / 2 ** 30:.1f} GiB is free on the shuffle volume. "
            + "; or ".join(fixes) + ".")


# ---------------------------------------------------------------------------
# Guard-probe memo (round-13 VERDICT #4)
#
# Every scratch/sizing guard runs one eager probe job over its input
# (row count + byte statistics), and each probe re-executes the
# possibly-uncached upstream plan once.  In a chained pipeline the same
# input flows through several guarded operators, so the probes compound
# (~4 s isolated in the sf1 chain audit; grows with chain depth).  The
# memo caches probe RESULTS per (session, semantically-equal plan,
# probe kind) so one distinct input is probed at most once per session.
#
# Identity: DataFrame.semanticHash() — Catalyst's canonicalized-plan
# hash, stable across re-built but semantically identical plans
# (expression IDs normalized) and computed driver-side with no job.
# The schema string rides along to make hash collisions across
# different-shaped inputs harmless.  STALENESS is in-contract: the memo
# is session-scoped and keyed by the PLAN, so a parquet path whose
# files are rewritten mid-session would serve stale statistics — the
# guards carry a 2x safety factor and name their remedies, and
# :func:`clear_probe_memo` resets the cache after an in-place data
# rewrite.  Insertion-ordered dict doubles as FIFO eviction.
# ---------------------------------------------------------------------------

_PROBE_MEMO: dict[tuple, tuple] = {}
_PROBE_MEMO_MAX = 256
# guards the memo dict + counter: parallel job submission from driver
# threads is a normal Spark pattern, and an unguarded FIFO eviction
# can raise "dictionary changed size during iteration" from inside a
# preflight (round-14 review).  compute() runs OUTSIDE the lock — a
# probe is a Spark job and must not serialize unrelated threads.
_PROBE_LOCK = __import__("threading").Lock()
# incremented on every MISS (actual probe job) — lets tests assert
# "<= 1 probe per distinct input" without spying on Spark internals
PROBE_COMPUTE_COUNT = 0


def memoized_probe(df, kind: tuple, compute):
    """Return ``compute()`` for ``df``, memoized per (session,
    semantic plan, ``kind``) for the life of the session.  ``kind``
    distinguishes probe shapes over the same input (e.g. the text
    probe's (text_col,) vs the embedding probe's (vec_col,)).
    The session component is ``applicationId`` (the repo's session-
    cache convention) — an object address would be recyclable after a
    stopped session is GC'd and could serve another session's stale
    statistics (round-14 review).  Falls back to an unmemoized
    ``compute()`` when the semantic hash is unavailable (never turns
    a working guard off).  Two threads missing the same key may both
    probe (benign duplicate job); the dict itself stays consistent."""
    global PROBE_COMPUTE_COUNT
    try:
        key = (df.sparkSession.sparkContext.applicationId,
               df.semanticHash(), str(df.schema), tuple(kind))
    except Exception:  # pragma: no cover - analysis-time failure
        with _PROBE_LOCK:
            PROBE_COMPUTE_COUNT += 1
        return compute()
    with _PROBE_LOCK:
        hit = _PROBE_MEMO.get(key)
        if hit is None:
            PROBE_COMPUTE_COUNT += 1
    if hit is not None:
        return hit
    val = compute()
    with _PROBE_LOCK:
        if len(_PROBE_MEMO) >= _PROBE_MEMO_MAX:
            _PROBE_MEMO.pop(next(iter(_PROBE_MEMO)))
        _PROBE_MEMO[key] = val
    return val


def clear_probe_memo() -> None:
    """Drop every memoized probe result — call after rewriting data
    in place under a path a guarded operator already probed."""
    with _PROBE_LOCK:
        _PROBE_MEMO.clear()
        _PARAMS_MEMO.clear()


# __params sidecar rows, memoized per (session, table name, sidecar
# file set): a sidecar is one tiny parquet read, but it costs a full
# Spark job per operator invocation (round-15: ~0.1 s per
# incremental-leg call, three legs per dedup_incremental row).  The
# file-set token keeps a rewritten sidecar from serving a stale row
# even when the rewrite bypassed the write_* builders (which also
# invalidate their own entry): every parquet rewrite emits fresh
# part-file names, so a changed sidecar always misses the memo and
# re-runs the loud validation.  The token is a driver-side catalog
# file listing — no Spark job.
_PARAMS_MEMO: dict[tuple, tuple] = {}


def memoized_params_row(spark, table: str, compute):
    """Return ``compute()`` (a validated ``__params`` payload),
    memoized per (applicationId, table) and keyed on the sidecar's
    current file set.  Failures are not cached — a loud empty-
    sidecar/drifted-formula raise must stay loud on every call until
    the table is rebuilt — and a rebuilt sidecar (new part files)
    re-validates instead of serving the old row."""
    try:
        token = hash(tuple(sorted(
            spark.table(f"{table}__params").inputFiles())))
    except Exception:
        # missing/unresolvable sidecar: let the loader raise its own
        # loud, typed error (and never cache the attempt)
        return compute()
    key = (spark.sparkContext.applicationId, table)
    with _PROBE_LOCK:
        hit = _PARAMS_MEMO.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    val = compute()
    with _PROBE_LOCK:
        _PARAMS_MEMO[key] = (token, val)
    return val


def invalidate_params_memo(spark, table: str) -> None:
    """Drop one table's memoized ``__params`` row (writers call this
    after rewriting the sidecar)."""
    with _PROBE_LOCK:
        _PARAMS_MEMO.pop((spark.sparkContext.applicationId, table), None)


def agg_partitions(spark, est_groups: int, *,
                   unit: str = "groups",
                   remedies: tuple[str, ...] = ()) -> int:
    """Partition count for a hash aggregate over ~``est_groups``
    reduce-side groups: the max of the groups-per-task target and the
    memory-budget floor (:func:`parts_for_memory`, including its
    actionable over-cap error).  Callers repartition on the aggregate
    keys only when this exceeds the session's shuffle-partition
    setting, so small corpora keep session sizing (and plans stay
    unchanged — the round-10 plan assertions pin this)."""
    return max(-(-int(est_groups) // TARGET_GROUPS_PER_TASK),
               parts_for_memory(spark, int(est_groups),
                                unit=unit, remedies=remedies))


# per-task payload target for the compute-heavy projection stages
# (signature folds, Arrow kernels): small enough that one task's Arrow
# batches stream through worker memory, large enough that per-task
# overhead (scheduling, Python worker handoff, shuffle file open) is
# amortized.  Measured at sf0.1 (round 15): the 35 MB dup corpus folds
# in ~0.66 s anywhere in the 8-32 partition band but degrades ~1.5x at
# 64 (tiny ~150-doc tasks) and at 4 (cores idle) — the helper's clamp
# keeps the count inside the flat region at every scale.
FOLD_TASK_BYTES = 64 << 20


def fold_partitions(spark, est_bytes: int | None, *,
                    per_task_bytes: int = FOLD_TASK_BYTES,
                    est_rows: int | None = None,
                    per_task_rows: int | None = None) -> int:
    """Partition count for the pre-fold spread of a compute-heavy
    projection (the ``df.repartition(n)`` before a signature fold or
    Arrow kernel, needed because a small-SF corpus arrives in a
    handful of scan partitions): every core gets a task, scaled up
    byte-proportionally once the payload outgrows ``per_task_bytes``
    chunks — never a fixed multiple of the core count, which
    over-splits small inputs into scheduling-floor tasks and
    under-splits huge ones (guide §2: derive partitioning from input
    size, not a constant tuned for one scale).

    ``est_rows``/``per_task_rows`` additionally cap the count for
    row-cheap inputs: a 4k-row embedding batch is ~2 MB, so the byte
    term says 1 chunk and the core floor says 32 — but 32 tasks of
    125 rows each are pure Python-worker handoff (measured 0.79 s vs
    0.54 s at 8 tasks for the sf0.1 nightly batch).  The cap never
    *raises* the count above the core floor; it only stops tiny
    inputs from being sliced thinner than ``per_task_rows`` rows per
    task.

    ``est_bytes=None`` (no probe available — cluster mode keeps the
    zero-eager-jobs laziness contract) falls back to the previous
    fixed sizing of ``2 x defaultParallelism``."""
    p = int(spark.sparkContext.defaultParallelism)
    if est_bytes is None:
        return max(p * 2, 16)
    floor = p
    if est_rows is not None and per_task_rows:
        floor = min(floor, max(1, -(-int(est_rows) // int(per_task_rows))))
    return max(floor, -(-int(est_bytes) // int(per_task_bytes)))


def current_shuffle_partitions(spark) -> int:
    """The session's effective shuffle-partition count (falls back to
    defaultParallelism when the conf is set to 'auto' or unreadable)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return int(spark.sparkContext.defaultParallelism)
