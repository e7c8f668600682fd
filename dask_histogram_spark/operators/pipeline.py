"""Composed training-data pipeline: the operators of this package
chained the way a 100 TB corpus-preparation run chains them.

``prepare_training_corpus`` = exact dedup -> quality filter -> token
accounting, as ONE declarative plan (no intermediate materialization:
Catalyst pipelines the narrow stages and the single shuffle is the
dedup groupBy).  Every stage is SQL-expressible, so the whole pipeline
is covered by the DuckDB oracle gate end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import re as _re

# Java \s is ASCII-only and Spark trim strips spaces only — the Python
# twins tokenize with this pattern + .strip(" ") to match exactly.
_WS_ASCII = _re.compile(r"\s+", _re.ASCII)

__all__ = ["prepare_training_corpus", "corpus_stats", "hash_sample",
           "hash_sample_sql", "hash_split", "hash_split_sql",
           "pack_sequences", "pack_sequences_sql", "token_vocabulary",
           "stratified_sample", "stratified_sample_sql",
           "quota_sample", "quota_rank_sql", "mix_corpora", "mix_plan",
           "contamination_check", "contamination_near_dup"]


def prepare_training_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 80,
    max_digit_ratio: float = 0.3,
    min_tokens: int = 10,
) -> DataFrame:
    """Deduplicate + quality-filter a document table.

    Stages (all lazy, one plan):
      1. exact dedup on full text, min-id winner (one shuffle);
      2. length / digit-ratio / token-count quality gates;
      3. token accounting for budget tracking — BOTH whitespace tokens
         and the BPE-style pre-tokenizer count (text.BPE_SPLIT_PATTERN):
         training budgets are quoted in real tokenizer tokens, and
         chars/4-style proxies drift badly on code/punctuation-heavy
         text, so downstream packing (:func:`pack_sequences`) should
         consume ``n_bpe_tokens``.

    Output: (id, n_tokens, n_bpe_tokens, n_chars, digit_ratio) for
    every KEPT doc.

    Scale shape: the groupBy keys on ``xxhash64(text)`` (8-byte
    shuffle key, like :func:`~.dedup.dedup_exact`) and the exchange
    carries only (hash, id, 3 small ints) per row — the document text
    itself never shuffles.  The cheap gates (null, length) prune
    scan-side; the regex gates evaluate once in the stats projection
    and select the winner inside the aggregate (see the in-body
    comment), so gate-failing rows cross the exchange as ~44 B stat
    rows — the price of running each text kernel exactly once instead
    of twice (Catalyst would push raw-text predicates into the scan
    and re-evaluate every regex there).
    """
    t = F.col(text_col)
    n = F.length(t).cast("double")
    digit_ratio = F.round(
        F.length(F.regexp_replace(t, "[^0-9]", "")) /
        F.greatest(n, F.lit(1.0)),
        6,
    )
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    from .text import BPE_SPLIT_PATTERN

    # gate ORDER (round-14 leg pairing): only the cheap pushable gates
    # (null, length) run BEFORE the stats projection; the regex gates
    # (digit_ratio, n_tokens) are folded INTO the dedup aggregate as
    # the min_by ordering's null-guard, evaluated on the projection's
    # already-computed stat columns.  Filtering the raw text first
    # reads nicer but Catalyst pushes those predicates into the scan,
    # where they re-evaluate every regex a second time per row (the
    # projection computes them again) — measured 0.217 -> 0.125 s at
    # sf0.1 from this reorder alone.  Scale trade-off: regex-failing
    # rows now cross the exchange as ~44 B stat rows (the length gate
    # still prunes the degenerate short tail scan-side), in return
    # for running each text kernel exactly once — at 100 TB the
    # duplicate regex pass over the full text dwarfs the extra
    # small-row shuffle.
    proj = df.where(
        t.isNotNull() & (F.length(t) >= min_chars)
    ).select(
        F.xxhash64(t).alias("__k"),
        F.col(id_col),
        F.length(t).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all(
            t, F.lit(BPE_SPLIT_PATTERN), 0)).alias("n_bpe_tokens"),
        digit_ratio.alias("digit_ratio"),
    )
    gates = ((F.col("digit_ratio") <= max_digit_ratio)
             & (F.col("n_tokens") >= min_tokens))
    # min_by on ONE struct keyed by id: the winner's stats travel
    # atomically with the winning id.  (Per-column min() would stitch a
    # chimera row from different documents if two distinct texts ever
    # collided on the 64-bit hash — with min_by a collision keeps one
    # real document's stats intact.)  The ordering is null for
    # gate-FAILING rows and min_by ignores null orderings, so the
    # winner is the min-id GATE-PASSING row — exactly the
    # filter-before-groupBy semantics, including under a 64-bit hash
    # collision pairing a failing doc with a passing one (a post-agg
    # where on the winner's stats would drop the whole group there —
    # round-14 review); an all-failing group yields a null winner,
    # dropped below.
    return (
        proj.groupBy("__k")
        .agg(
            F.min_by(
                F.struct(id_col, "n_chars", "n_tokens", "n_bpe_tokens",
                         "digit_ratio"),
                F.when(gates, F.col(id_col)),
            ).alias("__win"),
        )
        .where(F.col("__win").isNotNull())
        .select(f"__win.{id_col}", "__win.n_chars", "__win.n_tokens",
                "__win.n_bpe_tokens", "__win.digit_ratio")
    )


def corpus_stats(kept: DataFrame) -> DataFrame:
    """Budget summary of a prepared corpus: docs kept, token/char
    totals (the numbers a training-data run reports)."""
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def prepare_training_corpus_sql(min_chars: int = 80,
                                max_digit_ratio: float = 0.3,
                                min_tokens: int = 10,
                                table: str = "documents") -> str:
    """DuckDB twin of :func:`prepare_training_corpus` for the oracle
    gate.  The twin groups on the full text and filters after the
    group — algebraically identical to the engine's pre-shuffle-gate +
    hash-key plan, because every gate/stat is a deterministic function
    of the text (all copies agree) and xxhash64 collisions are
    negligible at test scale."""
    return rf"""
SELECT doc_id, n_chars, n_tokens, n_bpe_tokens, digit_ratio FROM (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
         CAST(len(regexp_extract_all(text,
              ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INT)
           AS n_bpe_tokens,
         ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))
               / GREATEST(CAST(length(text) AS DOUBLE), 1.0), 6) AS digit_ratio
  FROM (SELECT text, MIN(doc_id) AS doc_id FROM {table} GROUP BY text))
WHERE n_chars >= {min_chars} AND digit_ratio <= {max_digit_ratio}
  AND n_tokens >= {min_tokens}
"""


# Multiplicative-hash constants for the deterministic split (engine-
# and oracle-portable: plain 64-bit integer arithmetic, no engine
# hash).  A ~= 2^31 * golden ratio — Knuth multiplicative hashing
# equidistributes CONSECUTIVE ids across [0, 1), which an affine
# (a*x+b) mod p scheme does not (for small ids the product never wraps
# p, leaving the "hash" linear and every id in the first split).
#
# TWO rounds, not one: a single multiplicative round is AFFINE in the
# id, so an XOR seed merely translates the output lattice — measured
# over consecutive ids, two equal-rate samples at seeds 7 and 11
# overlapped 0% (expected 6.25%) and a 10% sample could nest exactly
# inside a 40% one.  The second xor-shift + multiply round breaks the
# affine structure: measured cross-seed overlaps land at 0.0618-0.0643
# for p=0.25 over all seed pairs tried (BASELINE "Round-7 sampler
# seed-independence fix").  Same family as the round-6 MinHash
# permutation catch: validate seeded hashes by DISTRIBUTION, not just
# determinism.
_SPLIT_M = 1 << 31
_SPLIT_A = 1327217885  # odd, (M-1)*A < 2^63: no long overflow
_SPLIT_A2 = 2654435761  # round 2: odd, (M-1)*A2 < 2^63 still


def _gold_hash(id_col: str, seed: int = 0) -> "F.Column":
    """The shared seeded hash Column, an integer in [0, 2^31): two
    xor-shift + golden-multiply rounds over ``x = id XOR seed`` (see
    the constants comment for why one round is not enough).  Pure
    64-bit integer arithmetic — bit-identical in Spark, DuckDB (the
    ``*_sql`` twins) and numpy, so every sampler built on it is
    oracle-checkable and rerun/partitioning/cluster-size stable."""
    x = F.col(id_col).cast("long").bitwiseXOR(F.lit(int(seed)))
    folded = F.pmod(x.bitwiseXOR(F.shiftright(x, 31)), F.lit(_SPLIT_M))
    h1 = F.pmod(folded * F.lit(_SPLIT_A), F.lit(_SPLIT_M))
    mixed = h1.bitwiseXOR(F.shiftright(h1, 15))  # < 2^31, no reduce
    return F.pmod(mixed * F.lit(_SPLIT_A2), F.lit(_SPLIT_M))


def _gold_hash_sql(id_col: str, seed: int = 0) -> str:
    """DuckDB twin of :func:`_gold_hash` (every ``%`` reduction wrapped
    non-negative where the Spark side uses pmod, so negative ids hash
    identically) — the single source for every ``*_sql`` builder."""
    x = f"xor({id_col}, {int(seed)})"
    inner = (f"(((xor({x}, {x} >> 31) % {_SPLIT_M}) "
             f"+ {_SPLIT_M}) % {_SPLIT_M})")
    h1 = f"((({inner} * {_SPLIT_A}) % {_SPLIT_M} + {_SPLIT_M}) % {_SPLIT_M})"
    mixed = f"xor({h1}, {h1} >> 15)"
    return (f"((({mixed} * {_SPLIT_A2}) % {_SPLIT_M} "
            f"+ {_SPLIT_M}) % {_SPLIT_M})")


def hash_split(df: DataFrame, ratios: dict[str, float],
               id_col: str = "doc_id", out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by universal hash of the
    id — the standard reproducible corpus split: membership depends
    only on the id (stable across reruns, partitionings and cluster
    sizes), never on row order or sampling RNG.  Narrow map, zero
    shuffle.

    ``ratios``: ordered {name: fraction} summing to ~1.0, e.g.
    ``{"train": 0.9, "val": 0.05, "test": 0.05}``.  The hash is the
    shared TWO-round fold-and-multiply of :func:`_gold_hash` —
    ``h1 = ((x ^ (x >> 31)) mod 2^31) * A mod 2^31`` then
    ``h = ((h1 ^ (h1 >> 15)) * A2) mod 2^31``, ``frac = h / 2^31`` —
    plain integer arithmetic reproducible in any SQL engine, so the
    assignment is oracle-checkable bit-for-bit.
    """
    total = sum(ratios.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"ratios must sum to 1.0, got {total}")
    frac = _gold_hash(id_col).cast("double") / F.lit(float(_SPLIT_M))
    expr = None
    cum = 0.0
    names = list(ratios)
    for name in names[:-1]:
        cum += ratios[name]
        branch = F.when(frac < F.lit(cum), F.lit(name))
        expr = branch if expr is None else expr.when(frac < F.lit(cum), F.lit(name))
    expr = (expr.otherwise(F.lit(names[-1])) if expr is not None
            else F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def hash_split_sql(ratios: dict[str, float], id_col: str = "doc_id",
                   out_col: str = "split") -> str:
    """DuckDB twin expression of :func:`hash_split` (same constants,
    same arithmetic, same branch order).  Both `%` reductions are
    wrapped to non-negative (DuckDB `%` is sign-preserving where the
    Spark side uses pmod) so negative ids split identically."""
    frac = f"(CAST({_gold_hash_sql(id_col)} AS DOUBLE) / {float(_SPLIT_M)!r})"
    names = list(ratios)
    whens = []
    cum = 0.0
    for name in names[:-1]:
        cum += ratios[name]
        whens.append(f"WHEN {frac} < {cum!r} THEN '{name}'")
    return (f"CASE {' '.join(whens)} ELSE '{names[-1]}' END AS {out_col}"
            if whens else f"'{names[-1]}' AS {out_col}")


def hash_sample(df: DataFrame, fraction: float, id_col: str = "doc_id",
                seed: int = 0) -> DataFrame:
    """Deterministic Bernoulli corpus sample by id hash — the
    reproducible counterpart of ``df.sample()``: membership depends
    only on (id, seed), never on partitioning, row order or an RNG
    stream, so reruns, different cluster sizes, and other engines
    (the SQL twin) select the IDENTICAL subset.  Narrow map, zero
    shuffle.

    Same two-round seeded hash as :func:`hash_split`; different seeds
    give (near-)independent samples of the same corpus — a property
    the second hash round EARNS rather than assumes (one round is
    affine in the id, making equal-rate samples at different seeds
    disjoint translates; see the ``_SPLIT_A2`` comment), and which
    ``test_hash_sample_seed_independence`` measures.

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> from dask_histogram_spark.operators import hash_sample
    >>> spark = get_spark("doctest", cpus=2)
    >>> df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    >>> ids = sorted(r.doc_id for r in hash_sample(df, 0.3, seed=7).collect())
    >>> ids
    [1, 7, 8, 10, 12, 17]
    >>> sorted(r.doc_id for r in
    ...        hash_sample(df.repartition(5), 0.3, seed=7).collect()) == ids
    True
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    frac = _gold_hash(id_col, seed).cast("double") / F.lit(float(_SPLIT_M))
    return df.where(frac < F.lit(float(fraction)))


def hash_sample_sql(fraction: float, id_col: str = "doc_id",
                    seed: int = 0) -> str:
    """DuckDB twin predicate of :func:`hash_sample` (same constants,
    same arithmetic; `%` wrapped non-negative like hash_split_sql)."""
    h = _gold_hash_sql(id_col, seed)
    return f"(CAST({h} AS DOUBLE) / {float(_SPLIT_M)!r}) < {float(fraction)!r}"


def pack_sequences(df: DataFrame, max_tokens: int,
                   id_col: str = "doc_id", tokens_col: str = "n_tokens",
                   group_col: str | None = None,
                   out_col: str = "seq_id") -> DataFrame:
    """Assign documents to fixed-token-budget training sequences:
    ``seq_id = floor(exclusive-running-token-sum / max_tokens)`` in
    deterministic ``id_col`` order — quota packing (a sequence may
    overflow by less than one document), the practical variant whose
    assignment is a pure window expression: one sort shuffle, no
    stateful reset logic, identical SQL for the oracle.

    ``group_col`` packs within groups (e.g. a language or split
    column) — at scale ALWAYS pass one: the window then partitions by
    the group key instead of single-task global ordering.  Omitting it
    warns (the global window funnels the WHOLE input through one task;
    acceptable only for small corpora / tests).
    """
    if group_col is None:
        import warnings

        warnings.warn(
            "pack_sequences(group_col=None) globally orders the input in "
            "a SINGLE task — pass a group column (e.g. a hash_split or "
            "language column) for any at-scale run",
            stacklevel=2,
        )
    part = [group_col] if group_col else []
    w = (Window.partitionBy(*part).orderBy(F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    run = F.coalesce(F.sum(F.col(tokens_col)).over(w), F.lit(0))
    return df.withColumn(
        out_col, F.floor(run / F.lit(float(max_tokens))).cast("long")
    )


def pack_sequences_sql(max_tokens: int, id_col: str = "doc_id",
                       tokens_col: str = "n_tokens",
                       group_col: str | None = None,
                       out_col: str = "seq_id") -> str:
    """DuckDB twin expression of :func:`pack_sequences`."""
    part = f"PARTITION BY {group_col} " if group_col else ""
    run = (f"COALESCE(SUM({tokens_col}) OVER ({part}ORDER BY {id_col} "
           f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)")
    return (f"CAST(FLOOR({run} / {float(max_tokens)!r}) AS BIGINT) "
            f"AS {out_col}")


def token_vocabulary(df: DataFrame, text_col: str = "text",
                     min_count: int = 1, top_k: int | None = None,
                     est_tokens: int | None = None,
                     est_types: int | None = None) -> DataFrame:
    """(token, count) vocabulary over whitespace-normalized lowercase
    tokens — the tokenizer-training precursor.  explode -> count is one
    shuffle with map-side partial aggregation; ``top_k`` ranks with
    deterministic (count DESC, token ASC) ordering.

    ``est_types`` (distinct-TYPE estimate — what the reduce-side hash
    map actually holds) sizes the vocabulary aggregate's shuffle via
    the shared sizing module (groups-per-task target + memory-budget
    floor + actionable over-cap error) — the same 100-TB posture as
    the span operators' ``est_windows`` and lm_score's
    ``est_bigrams``.  ``est_tokens`` (total OCCURRENCE estimate) is
    the loose upper bound accepted when no type estimate exists; for
    a natural-language corpus types << occurrences (Heaps' law), so
    prefer ``est_types`` — an occurrence-sized width is safe but can
    over-widen by orders of magnitude.  Default None keeps session
    sizing (plans unchanged).

    When the sized width exceeds the session's shuffle partitions,
    the plan switches to an explicit two-phase aggregate: per-Arrow-
    batch token counts (the pinned ``_tokenize_texts`` tokenization —
    bit-identical to the Column split) computed in a narrow
    ``mapInPandas`` pass, then the widened exchange carries only
    (token, partial_count) rows and the final sum runs at the sized
    width.  A bare ``repartition(width, token)`` below the groupBy
    would instead SATISFY the aggregate's distribution requirement,
    deleting the map-side partial step so the exchange hauls every
    raw occurrence — the safety knob making the job drastically
    slower than the default plan it guards (round-11 ADVICE).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    src = (df.select(F.explode(toks).alias("token"))
           .where(F.col("token") != ""))
    widened = None
    if est_types or est_tokens:
        from .sizing import agg_partitions, current_shuffle_partitions

        spark = df.sparkSession
        need = agg_partitions(
            spark, int(est_types or est_tokens),
            # the error message must name what the number IS: an
            # occurrence bound mislabeled as types would misstate the
            # problem by orders of magnitude (round-12 review)
            unit="token types" if est_types else "tokens (occurrence "
            "upper bound — pass est_types for type-accurate sizing)",
            remedies=("raise min_count and pre-filter rare types per "
                      "shard", "build the vocabulary per corpus shard "
                      "and merge counts"))
        if need > current_shuffle_partitions(spark):
            widened = need
    if widened:
        def _batch_counts(batches):
            from collections import Counter

            for pdf in batches:
                c: Counter = Counter()
                for tl in _tokenize_texts(pdf[text_col]):
                    if tl:
                        c.update(tl)
                c.pop("", None)
                if c:
                    yield pd.DataFrame(
                        {"token": list(c.keys()),
                         "__pc": np.fromiter(c.values(), dtype="int64",
                                             count=len(c))})

        partial = df.select(text_col).mapInPandas(
            _batch_counts, "token string, __pc long")
        counts = (
            partial.repartition(widened, "token")
            .groupBy("token")
            .agg(F.sum("__pc").alias("count"))
            .where(F.col("count") >= min_count)
        )
    else:
        counts = (
            src.groupBy("token")
            .agg(F.count(F.lit(1)).alias("count"))
            .where(F.col("count") >= min_count)
        )
    if top_k is not None:
        # orderBy+limit plans as TakeOrderedAndProject (per-partition
        # partial top-k, then a k-row merge) — a bare row_number window
        # would exchange the WHOLE vocabulary to one partition first.
        # The rank window then runs over just k rows.
        counts = counts.orderBy(F.col("count").desc(),
                                F.col("token").asc()).limit(top_k)
        w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
        counts = counts.withColumn("rank", F.row_number().over(w))
    return counts


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      group_col: str, id_col: str = "doc_id",
                      seed: int = 0, default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-group Bernoulli sample — the corpus-mixing
    primitive (e.g. downsample boilerplate-heavy languages or domains
    to a target mixture): each row keeps with its GROUP's rate, but
    membership is still a pure function of (id, seed) via the same
    golden-ratio hash as :func:`hash_sample`, so reruns, partitionings
    and the SQL twin select the identical subset, and a row's fate
    never depends on which other rows exist.

    Zero shuffle: the rate lookup is a CASE chain over ``group_col``
    (``rates`` is a small dict — the "broadcast side" is literals in
    the plan), the hash is a narrow map, and the filter pushes down to
    the scan like any predicate.  Groups absent from ``rates`` keep
    with ``default_rate`` (0.0 = drop, 1.0 = keep all).

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> from dask_histogram_spark.operators import (
    ...     hash_sample, stratified_sample)
    >>> spark = get_spark("doctest", cpus=2)
    >>> df = spark.createDataFrame(
    ...     [(i, "en" if i % 2 else "de") for i in range(40)],
    ...     "doc_id long, lang string")
    >>> got = stratified_sample(df, {"en": 0.5, "de": 0.1}, "lang", seed=7)
    >>> en = [r.doc_id for r in got.collect() if r.lang == "en"]
    >>> en == [r.doc_id for r in hash_sample(
    ...     df.where(F.col("lang") == "en"), 0.5, seed=7).collect()]
    True
    """
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for group {g!r} must be in [0, 1], got {r}")
    rate = None
    for g, r in rates.items():
        branch = (F.col(group_col) == F.lit(g), F.lit(float(r)))
        rate = (F.when(*branch) if rate is None else rate.when(*branch))
    rate = (rate.otherwise(F.lit(float(default_rate)))
            if rate is not None else F.lit(float(default_rate)))
    frac = _gold_hash(id_col, seed).cast("double") / F.lit(float(_SPLIT_M))
    return df.where(frac < rate)


def stratified_sample_sql(rates: dict[str, float], group_col: str,
                          id_col: str = "doc_id", seed: int = 0,
                          default_rate: float = 0.0) -> str:
    """DuckDB twin predicate of :func:`stratified_sample` (same hash
    arithmetic as :func:`hash_sample_sql`, same CASE order).
    ``group_col`` may be any SQL expression producing the group."""
    h = _gold_hash_sql(id_col, seed)

    def lit(g) -> str:
        # always a single-quoted SQL string literal with '' escaping —
        # Python repr of a value containing a quote would emit a
        # double-quoted string, which DuckDB parses as an identifier
        return "'" + str(g).replace("'", "''") + "'"

    whens = " ".join(f"WHEN {lit(g)} THEN {float(r)!r}"
                     for g, r in rates.items())
    rate = f"(CASE {group_col} {whens} ELSE {float(default_rate)!r} END)"
    return f"(CAST({h} AS DOUBLE) / {float(_SPLIT_M)!r}) < {rate}"


def quota_sample(df: DataFrame, max_per_group: int,
                 group_col: str = "source", id_col: str = "doc_id",
                 seed: int = 0, method: str = "auto",
                 margin: int | None = None, validate: bool = True,
                 broadcast_counts: bool = True) -> DataFrame:
    """Keep at most ``max_per_group`` rows per group — the head-domain
    capping primitive of corpus balancing (e.g. "no source contributes
    more than N documents").  Selection is the exact top-N by the same
    golden-ratio id hash as :func:`hash_sample` (ties broken by id), so
    the kept set is a pure function of (ids, seed): stable under
    reruns, partitionings, cluster sizes and other engines — the
    DuckDB twin is ``QUALIFY`` on :func:`quota_rank_sql`.

    Scale plan (``method="auto"``): a naive
    ``row_number() OVER (PARTITION BY group)`` is partially rescued on
    Spark 3.5+ by WindowGroupLimit (map-side trim to N+1 rows per
    group per input partition), but its exchange bound is still
    ``N x input_partitions`` rows per group — at 100 TB cluster widths
    (10^5 partitions) that is 10^8 shuffled rows per mega-domain, and
    the bound LOOSENS as the cluster grows.  This plan's bound is
    partition-count-independent:

    1. per-group counts (map-side partial agg -> one tiny row per
       group) are broadcast back onto the rows;
    2. small groups (``count <= N``) pass wholesale and BYPASS the
       window entirely (in fat-tail layouts they dominate the kept
       set — they must not ride the exchange); oversized groups are
       prefiltered to the rows whose hash falls under a per-group
       integer threshold ``ceil(k*M/count)`` sized to leave
       ``k = N + margin`` expected survivors (margin defaults to
       ``8*sqrt(N)+32`` — an >8-sigma Chernoff cushion, so the chance
       any group undershoots N true survivors is ~1e-15 per group);
    3. the row_number window runs on that bounded survivor set only —
       the sole data exchange carries ~``oversized groups x
       (N+margin)`` rows no matter how skewed the input is, and
       per-group sort cost is O(margin log margin), not O(group
       size).  The union costs a second (pushdown-pruned) narrow
       scan of the counts join — cheap against shuffling the kept
       corpus.

    The result is still EXACT top-N-by-hash: the prefilter can only
    cut rows ranked below the threshold count.  ``validate=True``
    (default) runs one extra small aggregate asserting every oversized
    group kept >= N survivors and raises with guidance if the margin
    ever proved too thin (deterministic per dataset; costs one more
    pass — production reruns on the same corpus may disable it).
    ``method="window"`` is the naive reference plan for tiny inputs
    and differential tests.  ``broadcast_counts=False`` opts out of
    the broadcast when the group cardinality itself is huge (the
    counts side is one row PER DISTINCT GROUP — small vs the data but
    not vs driver memory at, say, 100M domains); the join then
    shuffles both sides on the group key.

    ``id_col`` must be unique within a group — exact (hash, id) ties
    between distinct rows are ranked arbitrarily.  Rows with a NULL id
    are DROPPED up-front (their hash is NULL, the same fate they meet
    in :func:`hash_sample`/:func:`stratified_sample` predicates) —
    this keeps both methods and the SQL twin trivially equivalent; the
    twin's caller must filter ``id IS NOT NULL`` alike.
    """
    n = int(max_per_group)
    if n < 1:
        raise ValueError(f"max_per_group must be >= 1, got {max_per_group}")
    if method not in ("auto", "window"):
        raise ValueError(f"method must be 'auto' or 'window', got {method!r}")
    clash = [c for c in ("__qh", "__qcnt", "__qrn", "__qthr", "__qgrp")
             if c in df.columns]
    if clash:
        raise ValueError(
            f"input carries quota_sample's internal column(s) {clash} — "
            "rename them (the plan would silently overwrite or "
            "ambiguously reference them)")
    df = df.where(F.col(id_col).isNotNull())
    out_cols = df.columns
    w = (Window.partitionBy(group_col)
         .orderBy(F.col("__qh").asc(), F.col(id_col).asc()))
    if method == "window":
        return (df.withColumn("__qh", _gold_hash(id_col, seed))
                  .withColumn("__qrn", F.row_number().over(w))
                  .where(F.col("__qrn") <= n)
                  .select(*out_cols))
    if margin is None:
        margin = int(8 * np.sqrt(n)) + 32
    k = n + max(0, int(margin))
    counts = (df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__qcnt"))
              .withColumnRenamed(group_col, "__qgrp"))
    cside = F.broadcast(counts) if broadcast_counts else counts
    joined = df.join(
        cside, F.col(group_col).eqNullSafe(F.col("__qgrp")),
    ).drop("__qgrp")
    # small groups (count <= N) pass wholesale and NEVER reach the
    # window exchange — in fat-tail layouts (most groups under cap)
    # the kept set is dominated by exactly these rows, and routing
    # them around the window is the difference between shuffling the
    # whole kept corpus and shuffling only ~oversized x (N+margin)
    # survivors (measured at 100M rows, BASELINE "quota blowup").
    # The second narrow scan this union costs is pushdown-pruned.
    small = joined.where(F.col("__qcnt") <= n)
    kept = (
        joined.where(F.col("__qcnt") > n)
        .withColumn("__qh", _gold_hash(id_col, seed))
        # integer ceil(k*M/count): k*M < 2^45 so the div is exact long
        # arithmetic
        .withColumn("__qthr", F.expr(
            f"({k * _SPLIT_M} + __qcnt - 1) div __qcnt"))
        .where(F.col("__qh") < F.col("__qthr"))
    )
    if validate:
        # LEFT join from the oversized-group list so a group whose
        # prefilter kept ZERO survivors (absent from `kept` entirely)
        # still surfaces as an undershoot instead of silently vanishing
        surv = (kept.groupBy(group_col)
                .agg(F.count(F.lit(1)).alias("__qsurv")))
        bad = (counts.where(F.col("__qcnt") > n)
               .join(surv,
                     F.col("__qgrp").eqNullSafe(surv[group_col]), "left")
               .withColumn("__qsurv",
                           F.coalesce(F.col("__qsurv"), F.lit(0)))
               .where(F.col("__qsurv") < n)
               .limit(1).collect())
        if bad:
            g = bad[0]["__qgrp"]
            raise ValueError(
                f"quota_sample threshold prefilter undershot: group {g!r} "
                f"kept {bad[0]['__qsurv']} < {n} survivors. Re-run with a "
                f"larger margin (got {margin}) or method='window'."
            )
    ranked = (kept.withColumn("__qrn", F.row_number().over(w))
              .where(F.col("__qrn") <= n)
              .select(*out_cols))
    return small.select(*out_cols).unionByName(ranked)


def mix_plan(token_totals: dict[str, int], weights: dict[str, float],
             total_tokens: int | None = None) -> dict[str, dict]:
    """The arithmetic of a corpus mixture, separated out so it is
    driver-side-testable and user-inspectable before any data moves:
    given per-source available token totals and target mixture
    weights, return per-source ``{rate, target_tokens}``.

    ``total_tokens=None`` takes the LARGEST feasible budget without
    upsampling: ``min_i(T_i / w_i)`` — the binding source is sampled
    at rate 1.0 and everything else downsampled to proportion.  An
    explicit budget above that raises (this engine does not duplicate
    documents to fake mixture mass; see the epoch-weighting note in
    the docstring of :func:`mix_corpora`).
    """
    if set(token_totals) != set(weights):
        raise ValueError(
            f"sources {sorted(token_totals)} != weights {sorted(weights)}")
    if not token_totals:
        raise ValueError("at least one source required")
    for s, w in weights.items():
        if w <= 0:
            raise ValueError(f"weight for {s!r} must be > 0, got {w}")
        if token_totals[s] <= 0:
            raise ValueError(f"source {s!r} has no tokens")
    if total_tokens is not None and total_tokens <= 0:
        raise ValueError(
            f"total_tokens must be > 0, got {total_tokens}")
    wsum = float(sum(weights.values()))
    norm = {s: w / wsum for s, w in weights.items()}
    feasible = min(token_totals[s] / norm[s] for s in norm)
    if total_tokens is None:
        total_tokens = feasible
    elif total_tokens > feasible * (1 + 1e-9):
        binding = min(norm, key=lambda s: token_totals[s] / norm[s])
        raise ValueError(
            f"total_tokens={total_tokens:,.0f} needs more than source "
            f"{binding!r} holds ({token_totals[binding]:,} tokens for a "
            f"{norm[binding]:.3f} share; max feasible total is "
            f"{feasible:,.0f}). Lower the budget, the source's weight, "
            "or repeat the source across epochs upstream."
        )
    def rate(s: str) -> float:
        r = norm[s] * total_tokens / token_totals[s]
        # the binding source's rate is 1.0 by construction; snap the
        # float-division epsilon so "kept wholesale" is branchable
        return 1.0 if r >= 1.0 - 1e-9 else r

    return {
        s: {
            "rate": rate(s),
            "target_tokens": norm[s] * total_tokens,
            "available_tokens": int(token_totals[s]),
        }
        for s in norm
    }


def mix_corpora(sources: dict[str, DataFrame], weights: dict[str, float],
                tokens_col: str = "n_tokens", id_col: str = "doc_id",
                seed: int = 0, total_tokens: int | None = None,
                source_col: str = "mix_source") -> DataFrame:
    """Deterministic weighted corpus mixture — the stage between
    per-source curation and packing: union the sources with each
    downsampled so token mass lands at the target ``weights``
    proportions (e.g. ``{"web": 0.6, "code": 0.3, "books": 0.1}``).

    Mechanics: ONE union aggregate reads every source's total tokens
    (map-side partial sums, all source scans in one job — the only
    eager work; NULL-id rows are dropped uniformly first so their
    mass can't skew rates), :func:`mix_plan`
    turns (totals, weights, budget) into per-source Bernoulli rates,
    and each source keeps rows via the same pure (id, seed) golden-
    ratio hash as :func:`hash_sample`, seeded per source
    (``seed XOR blake2b(source name)`` — overlapping id spaces across
    independently-curated corpora would otherwise make one source's
    kept ids a strict subset of any higher-rate source's).  Zero
    shuffle; the mixture is reproducible across reruns/partitionings/
    engines and each source's kept set is (near-)independent of the
    others.  Hitting the target is in
    EXPECTATION over documents (docs are atomic): relative error
    concentrates like 1/sqrt(docs kept per source), negligible at
    corpus scale and measured in tests.

    No upsampling: a budget that needs a source repeated raises (see
    :func:`mix_plan`).  Epoch-weighting a small high-quality source is
    an upstream concern (union N copies with distinct epoch ids —
    deterministic and visible — rather than this operator silently
    duplicating documents).

    All sources must share ``id_col`` + ``tokens_col``; output columns
    are the COMMON columns across sources (in the first source's
    order) plus ``source_col`` tagging provenance.
    """
    if not sources:
        raise ValueError("at least one source required")
    if set(sources) != set(weights):
        # checked here too (mix_plan re-checks) so a typo'd weight key
        # fails BEFORE the per-source token scans, not after
        raise ValueError(
            f"sources {sorted(sources)} != weights {sorted(weights)}")
    first = next(iter(sources.values()))
    common = [c for c in first.columns
              if all(c in df.columns for df in sources.values())]
    if id_col not in common or tokens_col not in common:
        raise ValueError(
            f"all sources must share {id_col!r} and {tokens_col!r}; "
            f"common columns: {common}")
    if any(source_col in df.columns for df in sources.values()):
        # ANY source, not just `common` — a prior mixture re-mixed
        # with one fresh source would otherwise slip past the guard
        # and still lose its provenance in the select/withColumn
        raise ValueError(
            f"a source already carries a {source_col!r} column "
            "(re-mixing a mixture?) — pass a distinct source_col "
            "instead of silently overwriting provenance")
    # NULL-id rows drop UNIFORMLY up-front (the hash predicate would
    # drop them from sampled sources anyway, but a rate-1.0 binding
    # source would keep them and their mass would still skew every
    # rate via the totals) — same rule as quota_sample
    sources = {name: df.where(F.col(id_col).isNotNull())
               for name, df in sources.items()}
    # ONE aggregate job for all sources (a per-source .first() loop
    # would serialize N full scans — the only eager step here)
    tagged = None
    for name, df in sources.items():
        part = df.select(F.lit(name).alias("__src"),
                         F.col(tokens_col).alias("__tok"))
        tagged = part if tagged is None else tagged.unionByName(part)
    collected = {
        r["__src"]: int(r["t"] or 0)
        for r in tagged.groupBy("__src")
        .agg(F.sum("__tok").alias("t")).collect()
    }
    totals = {name: collected.get(name, 0) for name in sources}
    plan = mix_plan(totals, weights, total_tokens)
    mixed = None
    for name, df in sources.items():
        r = plan[name]["rate"]
        # the binding source (rate snapped to exactly 1.0) is usually
        # the LARGEST corpus — skip the per-row hash + always-true
        # filter entirely rather than evaluating it 10^12 times
        part = df if r >= 1.0 else hash_sample(
            df, r, id_col=id_col, seed=_mix_seed(seed, name))
        part = part.select(*common).withColumn(source_col, F.lit(name))
        mixed = part if mixed is None else mixed.unionByName(part)
    return mixed


def _mix_seed(seed: int, source_name: str) -> int:
    """Per-source sampling seed: the base seed folded with a stable
    hash of the source NAME, so sources with overlapping id spaces
    draw (near-)independent samples — a shared seed would make one
    source's kept ids a strict subset of any higher-rate source's."""
    import hashlib

    h = hashlib.blake2b(source_name.encode("utf-8"),
                        digest_size=8).digest()
    return int(seed) ^ (int.from_bytes(h, "big", signed=False) >> 1)


def quota_rank_sql(group_col: str, id_col: str = "doc_id",
                   seed: int = 0) -> str:
    """DuckDB twin rank of :func:`quota_sample`: ``QUALIFY <this> <= N``
    selects the identical rows (same hash constants and arithmetic as
    :func:`hash_sample_sql`, same (hash, id) tie-break).  Rows whose
    id is NULL must be excluded before ranking (the Spark side drops
    them up-front — see :func:`quota_sample`)."""
    h = _gold_hash_sql(id_col, seed)
    return (f"row_number() OVER (PARTITION BY {group_col} "
            f"ORDER BY {h}, {id_col})")


def _sorted_member_count(h: "np.ndarray", b: "np.ndarray") -> int:
    """Count of ``h``'s values present in SORTED-unique ``b``.

    ``np.searchsorted`` + one gather — O(|h| log |b|) per call.  The
    obvious ``np.isin(h, b)`` re-sorts the (large, shared) ``b`` on
    EVERY call: at sf1 that measured 65.7 s vs 0.105 s for 5000 docs
    against a 270k-gram benchmark set — it was the entire 15.8x
    contamination_check scaling flag, not the gram hashing."""
    if len(b) == 0 or len(h) == 0:
        return 0
    idx = np.searchsorted(b, h)
    idx[idx == len(b)] = 0
    return int((b[idx] == h).sum())


_GRAM_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd, full-width mixing


def _tokenize_texts(texts) -> "list[list[str] | None]":
    """The pinned corpus tokenization (None in → None out), mirroring
    the Column twin exactly: ``split(trim(lower(text)), '\\s+')`` —
    Spark's trim strips SPACES only and Java's ``\\s`` is ASCII-only,
    so this uses ``strip(" ")`` + an ``re.ASCII`` pattern (plain
    ``.strip()``/Unicode ``\\s`` would tokenize a trailing newline or
    a NBSP differently from the Column path and the DuckDB oracle).
    An empty string yields one empty token."""
    return [None if t is None else _WS_ASCII.split(t.lower().strip(" "))
            for t in texts]


def _positional_gram_hashes(tok_lists, n: int,
                            hash_key: str | None = None,
                            ) -> "list[np.ndarray | None]":
    """POSITIONAL word-n-gram hashes per document (no uniquing): the
    single copy of the batch-vectorized convention shared by
    contamination (distinct membership) and span dedup (positional
    windows).  ONE ``pd.util.hash_array`` call (fixed default key —
    stable across processes, unlike ``hash()``; ``categorize=True``
    hashes each distinct token once, so cost tracks vocabulary, not
    token count) hashes every token in the batch, then gram hashes
    are a degree-(n-1) polynomial rolling combine of consecutive
    token hashes in ONE flat numpy pass over the concatenated batch —
    windows that straddle a document boundary are computed but never
    read (each doc slices only its fully-interior windows).  Wrapping
    uint64; tokens contain no whitespace, so token-sequence identity
    == gram-string identity up to ~2^-64 combine collisions.  A doc
    shorter than n yields a single degenerate gram of all its tokens
    (same combine form, so it can never collide with a full-width
    gram except by hash accident)."""
    spans: list[tuple[int, int] | None] = []
    flat: list[str] = []
    for toks in tok_lists:
        if toks is None:
            spans.append(None)
            continue
        spans.append((len(flat), len(toks)))
        flat.extend(toks)
    # hash_key (16 chars, pd.util.hash_array's keyed-SipHash seed)
    # selects an INDEPENDENT 64-bit stream over the same tokens —
    # span dedup's hash_bits=128 runs the kernel twice with two keys
    # (dual-64); default None keeps the library default key, i.e.
    # every existing 64-bit output is unchanged
    kw = {"hash_key": hash_key} if hash_key is not None else {}
    th = (pd.util.hash_array(np.asarray(flat, dtype=object),
                             categorize=True, **kw)
          if flat else np.zeros(0, dtype=np.uint64))
    total = len(th)
    if total >= n:
        acc = th[: total - n + 1].copy()
        for j in range(1, n):
            acc = acc * _GRAM_MULT + th[j: total - n + 1 + j]
    else:
        acc = np.zeros(0, dtype=np.uint64)
    out: list[np.ndarray | None] = []
    for sp in spans:
        if sp is None:
            out.append(None)
            continue
        off, ln = sp
        if ln >= n:
            out.append(acc[off: off + ln - n + 1])
        elif ln == 0:
            # a ZERO-token doc (line/paragraph granularity on
            # all-blank text; word tokenization never yields 0) has
            # no degenerate window — without this branch th[off:off+1]
            # would grab the NEXT doc's first token hash mid-batch and
            # emit a phantom window equal to its first unit, wrongly
            # marking that unit duplicated (caught by the round-9
            # tokenizer fuzz, tests/test_properties.py)
            out.append(th[:0])
        else:
            g = th[off: off + 1].copy()
            for j in range(1, ln):
                g = g * _GRAM_MULT + th[off + j: off + j + 1]
            out.append(g)
    return out


def _word_gram_hash_batch(texts, n: int) -> "list[np.ndarray | None]":
    """Distinct word-n-gram hashes for a BATCH of documents (None in →
    None out): :func:`_tokenize_texts` + :func:`_positional_gram_hashes`
    + per-doc uniquing.  A per-gram Python loop (string join + one
    blake2b per gram) measured 3x slower on the sf0.1 documents table
    and was replaced by the batch kernel — membership counts are
    hash-function-agnostic, so the swap is invisible to the oracle."""
    return [None if g is None else np.unique(g)
            for g in _positional_gram_hashes(_tokenize_texts(texts), n)]


def contamination_check(train: DataFrame, benchmark: DataFrame,
                        n: int = 3, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.2,
                        method: str = "auto") -> DataFrame:
    """Benchmark-contamination scan: for every training document, the
    count and fraction of its distinct word n-grams that appear
    ANYWHERE in the benchmark corpus — the standard train/eval overlap
    check run before an LLM training job ships.

    Output: (id, n_grams, n_hits, contamination_ratio, contaminated)
    for every training document (``contaminated`` = ratio >=
    ``threshold``).

    Scale shape: the benchmark side is tiny by definition (eval suites
    are MBs; the training corpus is the 100 TB side), so its distinct
    n-gram hashes are computed ONCE and broadcast — the training table
    is then a single NARROW pass with no join and no shuffle; the plan
    is a scan + project, so it composes with partition pruning and
    runs at full scan speed.  A cross-gram hash collision
    (~|grams|^2 / 2^64) could only nudge a count by 1.

    ``method`` picks the narrow pass's kernel:

    - ``"arrow"`` (the ``"auto"`` default): tokenize + gram + hash +
      membership in ONE Arrow-batched kernel straight off the text
      (batch-vectorized token hashing + rolling gram combine —
      ``_word_gram_hash_batch`` — and searchsorted membership); the
      benchmark side is the same kernel run driver-side on the
      collected eval texts.
      The Column gram pipeline below is an interpreted HOF chain and
      measured 4x slower on the same corpus.
    - ``"column"``: grams and xxhash64 hashing stay JVM Column
      expressions; only the membership count is a pandas_udf against
      the broadcast hash array.  The portable reference path the Arrow
      kernel is differentially tested against.
    """
    if method == "auto":
        method = "arrow"
    from .sizing import memoized_probe

    if method == "arrow":
        def _bench_bc():
            btexts = benchmark.select(F.col(text_col)).toArrow()
            # NULL benchmark texts contribute no grams (explode(null)
            # emits no rows in the Column twin)
            bench_list = [
                h for h in _word_gram_hash_batch(
                    btexts.column(text_col).to_pylist(), n)
                if h is not None
            ]
            bench = (np.unique(np.concatenate(bench_list)) if bench_list
                     else np.zeros(0, dtype=np.uint64))
            return train.sparkSession.sparkContext.broadcast(bench)

        # the benchmark gram set + its broadcast are a pure function of
        # (benchmark plan, n) — eval suites are static within a session,
        # so the per-invocation collect + hash + re-broadcast (~0.5 s)
        # memoizes like every other guard probe (round-15; the
        # clear_probe_memo contract covers in-place rewrites)
        bc = memoized_probe(benchmark, ("contam_grams", int(n), text_col),
                            _bench_bc)

        @F.pandas_udf("n_grams int, n_hits int")
        def gram_stats(texts: pd.Series) -> pd.DataFrame:
            b = bc.value
            ng, nh = [], []
            for h in _word_gram_hash_batch(texts, n):
                if h is None:
                    # NULL text -> NULL counts (and the downstream
                    # ratio/flag expressions null-propagate)
                    ng.append(None)
                    nh.append(None)
                    continue
                ng.append(len(h))
                nh.append(_sorted_member_count(h, b))
            return pd.DataFrame({"n_grams": pd.array(ng, dtype="Int32"),
                                 "n_hits": pd.array(nh, dtype="Int32")})

        out = train.select(
            F.col(id_col), gram_stats(F.col(text_col)).alias("__s")
        ).select(id_col, "__s.n_grams", "__s.n_hits")
    elif method == "column":
        toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
        # guard NULL text explicitly: concat_ws would swallow the null
        # tokens and produce one '' gram instead of null-propagating
        gram_hashes = F.when(
            F.col(text_col).isNotNull(),
            F.transform(grams, lambda g: F.xxhash64(g)),
        )
        def _bench_bc_col():
            bench = np.unique(
                benchmark.select(F.explode(gram_hashes).alias("h"))
                .toArrow().column("h").to_numpy(zero_copy_only=False)
            )
            return train.sparkSession.sparkContext.broadcast(bench)

        # same memo as the arrow path (kind-tagged separately: the
        # column path hashes with xxhash64, not the FNV batch kernel)
        bc = memoized_probe(benchmark,
                            ("contam_grams_col", int(n), text_col),
                            _bench_bc_col)

        @F.pandas_udf(T.IntegerType())
        def n_hits(hs: pd.Series) -> pd.Series:
            b = bc.value
            return pd.Series(pd.array(
                [_sorted_member_count(np.asarray(h, dtype=np.int64), b)
                 if h is not None else None
                 for h in hs],
                dtype="Int32"))

        out = train.select(
            F.col(id_col),
            gram_hashes.alias("__gh"),
        ).select(
            id_col,
            F.size("__gh").alias("n_grams"),
            n_hits(F.col("__gh")).alias("n_hits"),
        )
    else:
        raise ValueError(f"unknown contamination method: {method!r}")
    return out.withColumn(
        "contamination_ratio",
        F.round(F.col("n_hits") / F.greatest(F.col("n_grams"), F.lit(1)), 6),
    ).withColumn(
        "contaminated",
        (F.col("contamination_ratio") >= F.lit(float(threshold))).cast("int"),
    )


def contamination_near_dup(train: DataFrame, benchmark: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           num_perm: int = 32, bands: int = 8,
                           shingle_k: int = 5, seed: int = 17,
                           hash_fn: str = "xxhash64",
                           jaccard: float = 0.5,
                           min_sig_matches: int | None = None,
                           max_bench_bucket: int | None = None,
                           broadcast_counts: bool = True) -> DataFrame:
    """NEAR-duplicate benchmark-contamination scan — the fuzzy twin of
    :func:`contamination_check`: flag training documents whose text is
    a MinHash near-duplicate of ANY benchmark document.  Exact n-gram
    overlap underestimates leakage that was paraphrased, re-wrapped or
    lightly templated on its way into an eval suite; shingle-Jaccard
    at the ``jaccard`` operating point catches it.

    Output: one row per training document —
    (id, n_matched_bench, contaminated) with ``n_matched_bench`` the
    count of DISTINCT benchmark documents whose agreement passes the
    gate (0 = clean) and ``contaminated = (n_matched_bench > 0)``.
    NULL-text docs yield no signature and report 0, like
    :func:`~.dedup.dedup_incremental_lsh`.

    Scale shape (the reason this is not just ``dedup_incremental_lsh``
    with the benchmark as the seen side): eval suites are MBs while
    the training corpus is the 100 TB side, so the benchmark's banded
    signature rows are BROADCAST — the training table is minhashed and
    banded in place (Arrow kernel + narrow explode, no exchange) and
    candidate matching is a broadcast hash join; the only shuffled
    rows are the gate-passing candidates (plan-asserted in
    tests/test_plans.py).  Contrast: routing this through the
    persisted-signature-table probe would shuffle every TRAINING band
    row to align with the seen bucketing — backwards when the big
    side is the probe side.

    The agreement gate defaults to the theory-derived
    :func:`~.dedup.agreement_gate` at ``jaccard`` (10/32 at the
    J>=0.5 default — the paraphrase-ish operating point; pass
    ``jaccard=0.9`` for verbatim-leak-only).  ``max_bench_bucket``
    optionally drops benchmark band buckets larger than the cap
    before the broadcast (a degenerate template shared by thousands
    of eval docs would otherwise multiply every colliding training
    row by the bucket size); the default (None) keeps every bucket —
    the multiplier is bounded by the benchmark's size, which is tiny
    by the operator's own premise.

    ``broadcast_counts`` (default True) broadcasts the 0-fill
    join-back's counts side — one row per CONTAMINATED training doc.
    That is NOT bounded by the benchmark's size: one viral template
    near-matching a single eval doc can contaminate an arbitrary
    fraction of the corpus, and past Spark's broadcast limit the scan
    fails LOUDLY.  That loud failure is the intended default (massive
    contamination is a fire alarm, and the alternative — a bare left
    join — silently plans a full shuffle of the training side on id,
    the exact cost this operator exists to avoid); pass False on a
    corpus where contamination is expected to be massive and the
    shuffle is the honest price.
    """
    from .dedup import (_band_explode, _sig_agreement, agreement_gate,
                        minhash_signatures)

    if min_sig_matches is None:
        min_sig_matches = agreement_gate(num_perm, jaccard=jaccard)
    bsigs = minhash_signatures(benchmark, text_col, id_col, num_perm,
                               shingle_k, seed, hash_fn)
    bband = _band_explode(bsigs, id_col, num_perm, bands, hash_fn,
                          keep=("sig",)).select(
        F.col(id_col).alias("__bench_id"), F.col("sig").alias("__bench_sig"),
        "band", "bucket")
    if max_bench_bucket is not None:
        # window count, not a groupBy + self-join: the latter would
        # recompute the benchmark minhash kernel on both subtrees
        bband = (
            bband.withColumn(
                "__n", F.count(F.lit(1)).over(
                    Window.partitionBy("band", "bucket")))
            .where(F.col("__n") <= int(max_bench_bucket)).drop("__n"))
    # the benchmark's banded rows are a pure function of (benchmark
    # plan, minhash params) and broadcast-small by the operator's own
    # premise — collect them ONCE per session (memoized like every
    # guard probe) and broadcast the local relation: repeat scans skip
    # the per-invocation benchmark minhash job + broadcast build
    # (round-15; plan shape unchanged — still a broadcast hash join
    # with no train-side exchange, plan-asserted)
    from .sizing import memoized_probe

    rows = memoized_probe(
        benchmark,
        ("contam_bband", int(num_perm), int(bands), int(shingle_k),
         int(seed), hash_fn, max_bench_bucket, text_col, id_col),
        bband.collect)
    from .localrel import local_relation

    bband = local_relation(train.sparkSession, rows, bband.schema)
    tsigs = minhash_signatures(train, text_col, id_col, num_perm,
                               shingle_k, seed, hash_fn)
    tband = _band_explode(tsigs, id_col, num_perm, bands, hash_fn,
                          keep=("sig",))
    counts = (
        tband.join(F.broadcast(bband), ["band", "bucket"])
        .where(_sig_agreement("sig", "__bench_sig")
               >= F.lit(int(min_sig_matches)))
        .select(F.col(id_col).alias("__train_id"), "__bench_id")
        .groupBy("__train_id")
        .agg(F.count_distinct("__bench_id").alias("n_matched_bench"))
    )
    # 0-fill join-back: see the broadcast_counts docstring note —
    # loud-failure broadcast by default, honest shuffle on request
    counts_side = F.broadcast(counts) if broadcast_counts else counts
    return (
        train.select(id_col)
        .join(counts_side, F.col(id_col) == F.col("__train_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("n_matched_bench"), F.lit(0).cast("long"))
            .alias("n_matched_bench"),
        )
        .withColumn("contaminated",
                    (F.col("n_matched_bench") > 0).cast("int"))
    )
