"""Sub-document (span-level) exact dedup: find and REMOVE word-n-gram
windows that repeat across the corpus.

The dedup ladder so far stops at document granularity — ``dedup_exact``
(whole-text hash), minhash/simhash/Jaccard (whole-doc similarity).
Real training corpora also carry *intra-document* duplication: shared
boilerplate (footers, license banners, templated headers) and long
verbatim passages repeated across otherwise-distinct pages.  Removing
those spans, not the documents, is its own pipeline stage
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", arXiv:2107.06499 — exact substring dedup; RefinedWeb / Dolma
run the same idea at line/paragraph granularity).  This module is the
window-granularity version of that operator, expressed Spark-first:

* ``span_windows``      — (id, pos, hash) for every n-token window.
* ``dup_span_stats``    — per-document duplicated-window profile.
* ``remove_duplicate_spans`` — rebuild each document without the
  duplicated spans (``policy='keep_first'`` keeps the globally first
  occurrence of each window, Lee-et-al. style; ``policy='all'`` strips
  every occurrence — boilerplate removal; ``with_stats=True`` fuses
  the profile columns into the removal pass).

All three take ``granularity='word'`` (default) / ``'line'`` /
``'paragraph'`` — line with ``n=1`` is RefinedWeb/Dolma-style exact
duplicate-line removal.

Semantics (pinned, both engines): tokens are
``split(trim(lower(text)), '\\s+')`` — the corpus-wide tokenization
convention (trim strips SPACES only, ``\\s`` is ASCII; see
``pipeline._word_gram_hash_batch``).  A document with m >= n tokens
has windows at positions 0..m-n (width n); a shorter document has ONE
degenerate window at position 0 of width m.  A window is *duplicated*
when its token sequence occurs >= ``min_df`` times corpus-wide; the
*first* occurrence of a window is the one with the smallest
(id, pos).  A word is removed when any removable window covers it, so
a repeated region longer than n disappears wholesale (its interior is
covered by many windows) while the unique words beside it survive.
Cleaned text is therefore normalized text (lowercase, single spaces)
minus the covered words.

Scale shape (the 100 TB plan):

* The corpus-wide frequency pass shuffles ONLY 8-byte window hashes
  into a count aggregate (partial map-side combine; text never moves).
* ``remove_duplicate_spans(plan='broadcast')`` then re-scans the
  corpus ONCE with the duplicated-window set broadcast — zero
  exchanges end-to-end, so it composes with partition pruning and
  runs at scan speed.  That is the boilerplate configuration: with a
  high ``min_df`` (a span repeated across thousands of pages) the dup
  set is small by definition.
* ``plan='join'`` is the strict-dedup configuration (``min_df=2``
  makes the dup set corpus-sized, far beyond any broadcast): removable
  window *positions* (two ints per window) shuffle back to their
  documents and the text meets them in one sort-merge join — the only
  stage where document text crosses the wire.
* ``plan='auto'`` collects the dup set under a LIMIT cap+1 and picks:
  under the cap the collected rows ARE the broadcast payload (no
  second pass); over it, fall back to the join plan.

Engine/oracle parity: duplication is decided on token *sequences*.
The Arrow kernel compares rolling 64-bit combines of per-token hashes
(collision odds ~|windows|^2/2^64), the Column twin xxhash64 of the
joined gram string, and the DuckDB oracle the gram string itself —
counts, first-occurrence ranks and removal sets are hash-function-
agnostic, so all three agree row-for-row.

64-bit collision bound (matters because removal is DESTRUCTIVE —
round-8 ADVICE): two distinct singleton grams colliding under the
64-bit hash look like one gram with df=2 and silently delete a
unique passage each.  Expected false-dup pairs ~= W^2 / 2^65 for W
total windows: negligible below W ~ 1e9 (<0.03 expected), ~14 at
W = 1e10, and ~27,000 at the 100 TB scale of W ~ 1e12 (still only
~3e-6 % of windows, but nonzero).  Mitigations, cheapest first:
(1) ``min_df >= 3`` needs a THREE-way collision (~W^3 / 2^128 —
zero at any earthly W) and is the natural setting for boilerplate
removal anyway; (2) shard the corpus and run removal per shard of
<= ~1e9 windows (cross-shard boilerplate still dedups inside each
shard); (3) at strict ``min_df=2`` over 1e11+ windows, accept the
documented ~1e-6 % false-removal floor or verify the dup set's
grams textually before removal (one extra join of dup positions
against the text — the join plan already co-locates them).  The
STATS path (:func:`dup_span_stats`) shares the bound but only
miscounts; no text is harmed.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import _WS_ASCII, _positional_gram_hashes, _tokenize_texts

__all__ = [
    "span_windows",
    "dup_span_stats",
    "remove_duplicate_spans",
    "write_span_gram_table",
    "load_span_gram_table",
    "remove_duplicate_spans_incremental",
    "estimate_windows",
]

# plan='auto' broadcasts the dup-window set below this many grams
# (3 numpy arrays x 8-16 B/gram -> low hundreds of MB at the cap)
_MAX_BROADCAST_GRAMS = 2_000_000

# second pd.util.hash_array key (exactly 16 chars, the API contract)
# for the dual-64 window identity under hash_bits=128; the default
# key hashes the first stream, this one the second — two independent
# keyed-SipHash streams over the same tokens, pair-collision odds
# ~W^2 / 2^129
_DUAL_HASH_KEY = "dhs-span-dual-64"

# gram-aggregate sizing (shared with lm_score's bigram model and
# token_vocabulary — operators/sizing.py is the single implementation;
# round-10 VERDICT #5).  The ~8M-groups/task target and the
# ~64 B/group preflight model were both calibrated on THIS operator's
# round-8/9 100M-doc capstones (see sizing.py's docstring); the names
# below are kept as aliases for the capstone scripts and tests.
from .sizing import (  # noqa: E402
    BUDGET_FRACTION as _GRAM_BUDGET_FRACTION,
    BYTES_PER_GROUP as _BYTES_PER_GROUP,
    MAX_AGG_PARTITIONS as _MAX_GRAM_PARTITIONS,
    TARGET_GROUPS_PER_TASK as _TARGET_GROUPS_PER_TASK,
    _parse_mem,
    parts_for_memory as _parts_for_memory,
)

_EST_SAMPLE_FRACTION = 0.001

# span-dedup-specific remedies for the over-cap preflight error (the
# generic sizing module words the error per-operator — round-10 ADVICE)
_SPAN_REMEDIES = (
    "shard the corpus and run per shard",
    "use a boilerplate-style min_df with plan='broadcast' so the dup "
    "set stays bounded",
)


def _gram_parts_for_memory(spark, est_windows: int) -> int:
    """Memory-aware floor on the gram aggregate's partition count —
    :func:`sizing.parts_for_memory` with span-dedup units and
    remedies (returns 0 when the budget cannot be determined; raises
    the actionable preflight error past the widening cap)."""
    return _parts_for_memory(spark, est_windows, unit="windows",
                             remedies=_SPAN_REMEDIES)


def estimate_windows(df: DataFrame, n: int = 6,
                     text_col: str = "text",
                     sample_fraction: float = _EST_SAMPLE_FRACTION,
                     granularity: str = "word") -> int:
    """Sampled estimate of the corpus's total window count (the gram
    aggregate's group cardinality upper bound): mean windows/doc over
    a ``sample_fraction`` sample x the corpus row count.  Two cheap
    jobs — the sample scans ``sample_fraction`` of the text, the
    count is a metadata-weight scan.  Feed the result to the span
    operators' ``est_windows`` so giant corpora size their own gram
    shuffle (see :func:`_dup_grams`); counts windows in the
    requested ``granularity`` (word/line/paragraph).

    Estimator hygiene (round-9 review, both passes): NULL texts and
    zero-token line/paragraph docs count 0 windows inside the SAMPLED
    mean itself (so the metadata-weight total row count scales an
    unbiased per-row mean — no second text scan to count non-nulls,
    no floored-1 overcount); the sample is SEEDED so the derived
    partition count — and hence the physical plan — is
    rerun-stable.

    Memoized per (session, semantic plan, parameters) like every
    guard probe (round-13 VERDICT #4): a chained pipeline running
    word+line+paragraph legs over one corpus pays the metadata count
    and sampled scan once per distinct (input, granularity, n)."""
    from .sizing import memoized_probe

    _check_granularity(granularity)

    def _probe() -> int:
        total = df.count()  # metadata-weight for columnar sources
        if total == 0:
            return 0
        toks = _COL_TOKS[granularity](text_col)
        # a doc with >= 1 token has max(m - n + 1, 1) windows
        # (degenerate short-doc form); NULL text and 0-token docs
        # (all-blank under line/paragraph granularity) have none
        per_doc = F.when(
            F.col(text_col).isNotNull() & (F.size(toks) > 0),
            F.greatest(F.size(toks) - n + 1, F.lit(1))).otherwise(F.lit(0))
        s = (df.sample(fraction=min(1.0, max(sample_fraction,
                                             1000 / total)), seed=17)
             .agg(F.sum(per_doc).alias("w"),
                  F.count(F.lit(1)).alias("d"))
             .first())
        if not s["d"]:
            return total  # degenerate sample: assume >= 1 window/doc
        return int(total * ((s["w"] or 0) / s["d"]))

    return memoized_probe(
        df, ("span_windows", granularity, n, text_col, sample_fraction),
        _probe)


def _spread_kernel_input(df: DataFrame, text_col: str) -> DataFrame:
    """Spread an UNDER-PARALLEL text DataFrame before an Arrow window
    kernel: a small-SF corpus arrives in 1-2 scan/cache partitions,
    and the window kernel (plus everything narrow downstream of it)
    inherits that width — the same starvation the signature folds'
    pre-fold repartition fixes (round-15: dedup_incremental's span
    leg ran its kernel on 2 cores).  Unlike the fold (whose per-byte
    cost dwarfs one text exchange at any scale), the window operators'
    documented scale shape is ZERO-exchange — so this only
    repartitions when the input's current width is below the session's
    core count (starvation), never a corpus that is already
    scan-parallel: a 100 TB input keeps its exchange-free plan
    (plan-asserted in test_broadcast_removal_plan_has_no_exchange).
    Byte-derived width via the memoized text probe."""
    from .dedup import _probed_fold_parts

    spark = df.sparkSession
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic logical plans
        return df
    nparts = _probed_fold_parts(df, text_col)
    if cur >= min(nparts, int(spark.sparkContext.defaultParallelism)):
        return df
    return df.repartition(nparts)


def _toks_col(text_col: str) -> Column:
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


# line / paragraph granularity (RefinedWeb / Dolma-style dedup, the
# forms most users reach for first — round-8 VERDICT #5): a token is
# a LINE (split on '\n') or a PARAGRAPH (split on blank-line runs,
# '\n{2,}'), normalized as its lowercased whitespace-split words
# re-joined by single spaces; units with no words (empty /
# all-whitespace) are dropped.  The normalization sidesteps every
# trim/split edge case ("\t"-only lines, trailing separators)
# identically in all three engines, and cleaned text re-joins
# surviving units with '\n' (lines) / '\n\n' (paragraphs — whose
# normalized form contains no newline at all, so the joiner can never
# be ambiguous).  Positional hashing keeps multi-unit grams
# unambiguous in the arrow kernel (each unit hashes as one token
# before the rolling combine); the Column twin joins gram units with
# the same newline joiners, which no normalized unit can contain.

def _unit_col(text_col: str, sep: str) -> Column:
    unit = lambda l: F.array_join(  # noqa: E731
        F.filter(F.split(F.lower(l), r"\s+"),
                 lambda p: p != F.lit("")), " ")
    return F.filter(
        F.transform(F.split(F.col(text_col), sep), unit),
        lambda s: s != F.lit(""))


def _lines_col(text_col: str) -> Column:
    return _unit_col(text_col, "\n")


# CRLF-aware: a Windows/crawled blank line is '\r\n\r\n', which holds
# no two CONSECUTIVE '\n' — a bare \n{2,} would silently degenerate
# paragraph dedup to whole-document units there (round-9 review
# finding).  Line granularity needs no such care: it splits on every
# '\n' and the stray '\r' dies in the \s+ normalization AFTER the
# split; paragraph splitting happens BEFORE normalization.
_PARA_RE = r"(?:\r?\n){2,}"


def _paras_col(text_col: str) -> Column:
    return _unit_col(text_col, _PARA_RE)


_PARA_SPLIT = re.compile(_PARA_RE)


def _tokenize_units(texts, splitter) -> list:
    """Python twin of :func:`_unit_col` (None in -> None out)."""
    out: list = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        units = []
        for u in splitter(t):
            s = " ".join(p for p in _WS_ASCII.split(u.lower()) if p)
            if s:
                units.append(s)
        out.append(units)
    return out


def _tokenize_lines(texts) -> list:
    return _tokenize_units(texts, lambda t: t.split("\n"))


def _tokenize_paras(texts) -> list:
    return _tokenize_units(texts, _PARA_SPLIT.split)


_GRANULARITIES = ("word", "line", "paragraph")
# cleaned text re-joins surviving tokens with the granularity's joiner
_JOINERS = {"word": " ", "line": "\n", "paragraph": "\n\n"}
_TOKENIZERS = {"word": _tokenize_texts, "line": _tokenize_lines,
               "paragraph": _tokenize_paras}
_COL_TOKS = {"word": _toks_col, "line": _lines_col,
             "paragraph": _paras_col}


def _check_granularity(granularity: str) -> None:
    if granularity not in _GRANULARITIES:
        raise ValueError(
            f"unknown granularity: {granularity!r} "
            f"(expected one of {_GRANULARITIES})")


def _check_hash_bits(hash_bits: int) -> None:
    if hash_bits not in (64, 128):
        raise ValueError(
            f"unknown hash_bits: {hash_bits!r} (expected 64 or 128)")


def _tokenize(texts: list, granularity: str) -> list:
    return _TOKENIZERS[granularity](texts)


def _batch_window_hashes(texts: list, n: int,
                         granularity: str = "word",
                         dual: bool = False) -> tuple:
    """Tokenize + positional window hashes for a batch (None text ->
    None in both outputs) via the single shared batch kernel
    (pipeline._positional_gram_hashes: one ``pd.util.hash_array``
    call + one flat rolling combine over the concatenated batch —
    shared with contamination, so the pinned tokenization and the
    degenerate short-doc form have exactly one implementation).
    ``granularity='line'`` swaps in the line tokenizer; the hash
    kernel is token-type-agnostic.

    ``dual=True`` additionally returns a SECOND, independent 64-bit
    stream over the same tokenization (one extra keyed hash pass —
    the tokenize cost is not paid twice): the dual-64 = 128-bit
    window identity behind ``hash_bits=128`` (third return is None
    otherwise)."""
    tok_lists = _tokenize(texts, granularity)
    h1 = _positional_gram_hashes(tok_lists, n)
    h2 = (_positional_gram_hashes(tok_lists, n, hash_key=_DUAL_HASH_KEY)
          if dual else None)
    return tok_lists, h1, h2


def span_windows(df: DataFrame, n: int = 6, text_col: str = "text",
                 id_col: str = "doc_id",
                 method: str = "auto",
                 granularity: str = "word",
                 hash_bits: int = 64) -> DataFrame:
    """Explode every document into (id, pos, h): one row per n-token
    window, ``h`` a 64-bit hash of the window's token sequence.

    NULL texts contribute no rows (both methods).  The hash VALUES
    differ between methods (rolling token-hash combine vs xxhash64 of
    the gram string) — every consumer in this module is
    hash-function-agnostic, so outputs do not.

    ``method='arrow'`` (the ``'auto'`` default) is one mapInPandas
    kernel computed in the scan stage — the text never shuffles;
    ``'column'`` is the pure-JVM twin (sequence/slice/array_join
    HOFs + xxhash64) the kernel is differentially tested against.

    ``granularity='word'`` (default) tokenizes on whitespace;
    ``'line'`` / ``'paragraph'`` tokenize into normalized non-blank
    LINES / blank-line-separated PARAGRAPHS (see the ``_unit_col``
    note) — line granularity with ``n=1`` is RefinedWeb/Dolma-style
    exact line dedup.  A line/paragraph-granularity doc with no
    non-blank content has NO windows (unlike word granularity, where
    an empty string is one empty token).

    ``hash_bits=128`` emits a SECOND independent 64-bit hash column
    ``h2`` (dual-64 window identity — pair-collision odds ~W^2/2^129,
    zero at any earthly corpus): the opt-in for DESTRUCTIVE removal
    at strict ``min_df=2`` beyond ~1e10 windows, where the 64-bit
    birthday floor (module docstring) starts deleting real passages.
    One extra keyed hash pass in the arrow kernel (tokenization is
    not repeated); consumers key on (h, h2) instead of h.
    """
    _check_granularity(granularity)
    _check_hash_bits(hash_bits)
    dual = hash_bits == 128
    if method == "auto":
        method = "arrow"
    if method == "column":
        toks = _COL_TOKS[granularity](text_col)
        nw = F.greatest(F.size(toks) - n + 1, F.lit(1))
        # NULL text contributes no windows (the arrow kernel skips it;
        # without the filter, sequence(0, greatest(null,1)-1) would
        # still emit one row hashing a null gram)
        df = df.where(F.col(text_col).isNotNull())
        e = df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), nw - 1)).alias("pos"),
        )
        # all-blank line/paragraph-granularity docs have size-0 token
        # arrays but nw=1 — drop them to match the arrow kernel's
        # no-window form.  Gram joiner: ' ' for word tokens (never
        # contain spaces), '\n' / '\n\n' for line/paragraph tokens
        # (contain spaces, never newlines) — the word joiner would
        # make ["a b","c"] collide with ["a","b c"]
        e = e.where(F.size("__toks") > 0)
        gram = F.array_join(F.slice(F.col("__toks"), F.col("pos") + 1, n),
                            _JOINERS[granularity])
        cols = [F.col(id_col), F.col("pos").cast("int"),
                F.xxhash64(gram).alias("h")]
        if dual:
            # seed the second stream by prefixing a literal no gram
            # can produce (xxhash64 folds arguments sequentially, so
            # a distinct leading value IS a distinct seed)
            cols.append(F.xxhash64(F.lit(_DUAL_HASH_KEY), gram)
                        .alias("h2"))
        return e.select(*cols)
    if method != "arrow":
        raise ValueError(f"unknown span_windows method: {method!r}")

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("pos", T.IntegerType()),
        T.StructField("h", T.LongType()),
    ] + ([T.StructField("h2", T.LongType())] if dual else []))

    def gen(batches):
        for b in batches:
            ids = b[id_col].to_numpy()
            _, hashes, hashes2 = _batch_window_hashes(
                b[text_col].tolist(), n, granularity, dual=dual)
            out_i, out_p, out_h, out_h2 = [], [], [], []
            for i, hs in enumerate(hashes):
                if hs is None or len(hs) == 0:
                    continue
                out_i.append(np.full(len(hs), ids[i]))
                out_p.append(np.arange(len(hs), dtype=np.int32))
                out_h.append(hs.view(np.int64))
                if dual:
                    out_h2.append(hashes2[i].view(np.int64))
            if out_i:
                cols = {
                    id_col: np.concatenate(out_i),
                    "pos": np.concatenate(out_p),
                    "h": np.concatenate(out_h),
                }
                if dual:
                    cols["h2"] = np.concatenate(out_h2)
                yield pd.DataFrame(cols)

    return df.select(id_col, text_col).mapInPandas(gen, out_schema)


def _dup_grams(windows: DataFrame, id_col: str, min_df: int,
               est_windows: int | None = None,
               keys: tuple = ("h",)) -> DataFrame:
    """(h, df, first) for every window hash seen >= min_df times;
    ``first`` is the globally smallest (id, pos) occurrence.

    ``est_windows`` (total window count, exact or estimated) sizes the
    aggregate's OWN shuffle: when the estimate implies more than
    ``spark.sql.shuffle.partitions`` tasks of ~8M groups each, the
    window stream repartitions on ``h`` at the computed width and the
    aggregate reuses that partitioning (no second exchange — Spark
    recognizes the hash distribution as satisfied).  Default (None)
    keeps the session's shuffle sizing: at small inputs AQE coalesces
    anyway and nothing changes.  This is the round-8 capstone lesson
    (a scale ladder whose gram aggregate survived only with this
    width set by hand) moved into the operator — a 100 TB caller of
    :func:`dup_span_stats` / :func:`remove_duplicate_spans` must not
    need a babysitting script to survive the gram aggregate.  (The
    explicit repartition trades away map-side partial aggregation,
    which buys ~nothing here:
    grams are mostly distinct, so partials barely compress — the
    binding constraint is the reduce-side hash map, which this sizes
    exactly.)

    MEMORY PREFLIGHT (round-9 VERDICT #6): the ~8M-groups/task target
    is the measured safe point for a 96 GiB heap; on a smaller heap it
    can still OOM (the round-8 capstone's hand-set
    SPARK_DRIVER_MEMORY).  When ``est_windows`` is given the sizing
    therefore also takes :func:`_gram_parts_for_memory`'s floor —
    enough partitions that the concurrent reduce-side maps fit ~60% of
    the measured heap — and RAISES an actionable error (heap knobs,
    per-shard runs, bounded-min_df broadcast) when even the
    200k-partition widening cap cannot fit, instead of dying mid-job.
    """
    if est_windows:
        spark = windows.sparkSession
        try:
            cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            # some platforms set the conf to the non-numeric 'auto'
            # (AQE-managed shuffle); fall back to the cluster's
            # default parallelism as the comparison width
            cur = int(spark.sparkContext.defaultParallelism)
        need = max(-(-int(est_windows) // _TARGET_GROUPS_PER_TASK),
                   _gram_parts_for_memory(spark, int(est_windows)))
        if need > cur:
            windows = windows.repartition(need, *keys)
    return (
        windows.groupBy(*keys)
        .agg(F.count("*").alias("df"),
             F.min(F.struct(F.col(id_col).alias("i"),
                            F.col("pos").alias("p"))).alias("first"))
        .filter(F.col("df") >= min_df)
    )


def _resolve_est(df: DataFrame, n: int, text_col: str,
                 est_windows, granularity: str = "word") -> int | None:
    """Normalize the public ``est_windows`` knob: None (default
    sizing), an int rows-estimate, or ``'sample'`` to measure one via
    :func:`estimate_windows` (granularity-aware)."""
    if est_windows is None:
        return None
    if est_windows == "sample":
        return estimate_windows(df, n, text_col,
                                granularity=granularity)
    return int(est_windows)


def dup_span_stats(df: DataFrame, n: int = 6, min_df: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   method: str = "auto",
                   est_windows=None,
                   granularity: str = "word") -> DataFrame:
    """Per-document duplicated-window profile: (id, n_windows,
    n_dup_windows, n_removable_windows, dup_fraction).

    ``n_dup_windows`` counts windows whose sequence repeats >= min_df
    times anywhere in the corpus; ``n_removable_windows`` excludes
    each sequence's globally first occurrence (what
    ``policy='keep_first'`` removal deletes).  Plan: one 8-byte-hash
    count shuffle + a join of window rows against the (usually tiny —
    AQE broadcasts it when so) dup set; document text never shuffles.

    ``est_windows`` (int total-window estimate, or ``'sample'`` to
    measure one) sizes the gram aggregate's shuffle for giant corpora
    — see :func:`_dup_grams`; default None keeps session sizing.
    ``granularity='line'`` profiles duplicated LINE windows instead
    of word windows (docs with no non-blank lines contribute no row).
    """
    est = _resolve_est(df, n, text_col, est_windows, granularity)
    df = _spread_kernel_input(df, text_col)
    w = span_windows(df, n, text_col, id_col, method, granularity)
    d = _dup_grams(w, id_col, min_df, est)
    j = w.join(d, "h", "left")
    not_first = (
        F.col("df").isNotNull()
        & ~((F.col("first.i") == F.col(id_col))
            & (F.col("first.p") == F.col("pos")))
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.count("df").alias("n_dup_windows"),
            F.sum(not_first.cast("long")).alias("n_removable_windows"),
            # unrounded on purpose: int/int IEEE division is bit-exact
            # across Spark/DuckDB/python, while ROUND could flip a
            # 7th-decimal tie differently per engine (BigDecimal
            # half-up vs float rounding) and break the hash gate
            (F.count("df") / F.count("*")).alias("dup_fraction"),
        )
    )


def _rebuild_batch(toks_list: list, starts_list: list, n: int,
                   texts_out: list, removed_out: list,
                   joiner: str = " ") -> None:
    """Coverage + rebuild for one batch: a token is dropped when any
    removable window start s covers it (s <= p <= s + w - 1, w the
    document's window width).  Linear per document via a delta array.
    ``joiner`` re-joins surviving tokens (' ' for words, '\\n' for
    lines)."""
    for toks, starts in zip(toks_list, starts_list):
        if toks is None:
            texts_out.append(None)
            removed_out.append(None)
            continue
        m = len(toks)
        if starts is None or len(starts) == 0:
            texts_out.append(joiner.join(toks))
            removed_out.append(0)
            continue
        w = min(n, m)
        s = np.asarray(starts, dtype=np.int64)
        delta = np.zeros(m + 1, dtype=np.int64)
        np.add.at(delta, s, 1)
        np.add.at(delta, np.minimum(s + w - 1, m - 1) + 1, -1)
        cov = np.cumsum(delta[:m]) > 0
        texts_out.append(joiner.join(
            t for t, c in zip(toks, cov) if not c))
        removed_out.append(int(cov.sum()))


def _probe_slots(hs_g: np.ndarray, h2_g, sh: np.ndarray,
                 sh2) -> np.ndarray:
    """Exact vectorized membership probe of a batch's window hashes
    against the (lex)sorted broadcast dup set: returns the matched
    SLOT index per window, -1 for a miss.  64-bit mode (``h2_g`` is
    None): one searchsorted + equality, the original probe.  Dual-64
    mode: the set is lexsorted by (h, h2); the first slot of the
    equal-``h`` run is checked vectorized, and the ~2^-64-probability
    runs longer than one entry fall to a bounded scalar walk — a
    duplicate-``h`` pair in the set can never mask a real (h, h2)
    member (pinned by tests/test_spans.py's synthetic-collision
    test)."""
    n_g = len(hs_g)
    out_n = len(sh)
    if n_g == 0:
        return np.full(out_n, -1, dtype=np.int64)
    idx = np.searchsorted(hs_g, sh)          # first slot with >= sh
    idx_c = np.minimum(idx, n_g - 1)
    ok = hs_g[idx_c] == sh
    if h2_g is None:
        return np.where(ok, idx_c, np.int64(-1))
    slot = np.where(ok & (h2_g[idx_c] == sh2), idx_c, np.int64(-1))
    for r in np.nonzero(ok & (slot < 0))[0]:
        k = int(idx_c[r]) + 1
        while k < n_g and hs_g[k] == sh[r]:
            if h2_g[k] == sh2[r]:
                slot[r] = k
                break
            k += 1
    return slot


def _broadcast_removal_scan(df: DataFrame, tbl, policy: str, n: int,
                            text_col: str, id_col: str,
                            granularity: str = "word",
                            with_stats: bool = False,
                            dual: bool = False) -> DataFrame:
    """One zero-exchange rebuild scan against a collected dup-window
    set ``tbl`` (arrow table of (h, i, p): hash + FIRST occurrence).
    Shared by batch removal (first = corpus min (id, pos)) and the
    incremental probe (first = seen occurrence when the gram is
    already in the corpus, else the batch min) — under keep_first an
    occurrence is removable unless it IS the recorded first, which
    for seen-won grams matches no batch (id, pos) because run ids are
    disjoint by contract.

    ``with_stats`` additionally emits the :func:`dup_span_stats`
    profile columns (n_windows, n_dup_windows, n_removable_windows,
    dup_fraction) computed from the SAME window hashes the removal
    already probes — a free by-product of this scan (the fused
    profile-and-clean form: no second window pass, no gram-agg join,
    no doc-level aggregate).  Stats semantics are policy-independent
    (n_removable always excludes own-first occurrences, whatever the
    removal policy deletes)."""
    spark = df.sparkSession
    hs = tbl.column("h").to_numpy(zero_copy_only=False)
    if dual:
        h2s = tbl.column("h2").to_numpy(zero_copy_only=False)
        order = np.lexsort((h2s, hs))   # h-major, h2 within ties
        h2s = h2s[order]
    else:
        h2s = None
        order = np.argsort(hs, kind="stable")
    hs = hs[order]
    fi = tbl.column("i").to_numpy(zero_copy_only=False)[order]
    fp = tbl.column("p").to_numpy(zero_copy_only=False)[order]
    keep_first = policy == "keep_first"
    bc = spark.sparkContext.broadcast((hs, h2s, fi, fp))

    stat_fields = [
        T.StructField("n_windows", T.LongType()),
        T.StructField("n_dup_windows", T.LongType()),
        T.StructField("n_removable_windows", T.LongType()),
        T.StructField("dup_fraction", T.DoubleType()),
    ] if with_stats else []
    out_schema = T.StructType(
        list(df.schema) + stat_fields
        + [T.StructField("clean_text", T.StringType()),
           T.StructField("n_removed_words", T.IntegerType())])

    joiner = _JOINERS[granularity]

    def scan(batches):
        hs_g, h2_g, fi_g, fp_g = bc.value
        for b in batches:
            toks_list, hashes, hashes2 = _batch_window_hashes(
                b[text_col].tolist(), n, granularity, dual=dual)
            ids = b[id_col].to_numpy()
            starts_list = []
            stats_rows: list = []
            for i, wh in enumerate(hashes):
                if wh is None:
                    starts_list.append(None)
                    stats_rows.append((None, None, None, None))
                    continue
                sh = wh.view(np.int64)
                sh2 = hashes2[i].view(np.int64) if dual else None
                slot = _probe_slots(hs_g, h2_g, sh, sh2)
                hit = slot >= 0
                n_own = 0
                if (keep_first or with_stats) and hit.any():
                    j = slot[hit]
                    pos_hit = np.nonzero(hit)[0]
                    own = (fi_g[j] == ids[i]) & (fp_g[j] == pos_hit)
                    n_own = int(own.sum())
                    if keep_first:
                        hit[pos_hit[own]] = False
                if with_stats:
                    nw = len(sh)
                    nd = int(hit.sum()) + (n_own if keep_first else 0)
                    # int/int IEEE division — bit-exact cross-engine
                    stats_rows.append(
                        (nw, nd, nd - n_own,
                         nd / nw if nw else None))
                starts_list.append(np.nonzero(hit)[0])
            texts_out: list = []
            removed_out: list = []
            _rebuild_batch(toks_list, starts_list, n,
                           texts_out, removed_out, joiner)
            out = b.copy()
            if with_stats:
                for k, name in enumerate(
                        ("n_windows", "n_dup_windows",
                         "n_removable_windows")):
                    out[name] = pd.array(
                        [r[k] for r in stats_rows], dtype="Int64")
                out["dup_fraction"] = pd.array(
                    [r[3] for r in stats_rows], dtype="Float64")
            out["clean_text"] = texts_out
            out["n_removed_words"] = pd.array(
                removed_out, dtype="Int32")
            yield out

    return df.mapInPandas(scan, out_schema)


def remove_duplicate_spans(df: DataFrame, n: int = 6, min_df: int = 2,
                           policy: str = "keep_first",
                           text_col: str = "text", id_col: str = "doc_id",
                           plan: str = "auto", method: str = "auto",
                           max_broadcast_grams: int = _MAX_BROADCAST_GRAMS,
                           est_windows=None,
                           granularity: str = "word",
                           with_stats: bool = False,
                           hash_bits: int = 64) -> DataFrame:
    """Rebuild every document without its duplicated spans.

    Output: the input columns plus ``clean_text`` (normalized text
    minus covered words; '' when everything was duplicated) and
    ``n_removed_words``.

    ``policy='keep_first'`` (default) keeps each window sequence's
    globally first (min (id, pos)) occurrence — corpus content is
    deduplicated, not deleted (Lee et al. semantics at window
    granularity).  ``policy='all'`` strips every occurrence —
    boilerplate removal.  Removal is destructive and hash-keyed: see
    the module docstring's 64-bit collision bound (negligible below
    ~1e9 windows; prefer ``min_df >= 3`` or per-shard runs beyond
    ~1e10 at strict min_df=2).

    ``plan='broadcast'`` collects the dup-window set (at most
    ``max_broadcast_grams`` + 1 rows ever reach the driver — an
    over-cap set raises BEFORE materializing) and re-scans the corpus
    once (zero exchanges; the scale path whenever the set is bounded,
    i.e. boilerplate-style ``min_df``); ``plan='join'`` shuffles
    removable window positions back to their documents and sort-merge
    joins the text once (the strict ``min_df=2`` path); ``plan='auto'``
    tries the capped collect ONCE and reuses it when it fits (no
    second aggregate pass), falling back to join when it does not.
    ``method`` selects the join plan's rebuild: ``'arrow'`` (auto;
    linear-per-doc kernel) or ``'column'`` (pure JVM HOF twin — exact
    but O(words x dup_starts) per doc; join-plan only, so asking for
    it under ``plan='broadcast'`` raises and under ``'auto'`` forces
    the join plan).  ``est_windows`` (int or ``'sample'``) sizes the
    gram aggregate's shuffle for giant corpora — see
    :func:`_dup_grams`.

    ``granularity='line'`` / ``'paragraph'`` removes duplicated LINE /
    PARAGRAPH windows instead (line + ``n=1``: RefinedWeb/Dolma-style
    exact duplicate-line removal); ``clean_text`` re-joins surviving
    normalized units with ``'\\n'`` / ``'\\n\\n'`` and
    ``n_removed_words`` counts removed units there.

    ``with_stats=True`` additionally emits the :func:`dup_span_stats`
    profile columns (n_windows, n_dup_windows, n_removable_windows,
    dup_fraction; NULL for NULL texts) — the fused profile-and-clean
    form a pipeline wanting both should prefer: under the broadcast
    plan the stats are a FREE by-product of the rebuild scan's window
    probes (no second window pass, no gram-agg join, no doc
    aggregate); under the join plan they cost one extra window
    aggregate (still cheaper than a separate stats call, which would
    re-tokenize the corpus).  One divergence from dup_span_stats:
    that operator omits rows for docs with no windows, this emits
    them with n_windows=0 (stats are columns on the full output).

    ``hash_bits=128`` keys duplication on a dual-64 (= 128-bit)
    window identity instead of one 64-bit hash — the opt-in for the
    user running DESTRUCTIVE strict-``min_df=2`` removal over 1e11+
    windows corpus-wide, where the module docstring's 64-bit birthday
    floor (~27k silent false removals at W~1e12) is no longer
    acceptable and the per-shard / min_df>=3 mitigations don't apply.
    Pair-collision odds drop to ~W^2/2^129 (zero at any earthly W).
    Cost: one extra keyed hash pass in the window kernel, 16-byte
    instead of 8-byte gram-aggregate keys, and a two-column dup-set
    join — measured ~1.1-1.3x the 64-bit wall at sf0.1 (BASELINE.md
    round-10 A/B).  Outputs are bit-identical to ``hash_bits=64``
    short of a real 64-bit collision (differential-tested).
    """
    if policy not in ("keep_first", "all"):
        raise ValueError(f"unknown policy: {policy!r}")
    _check_granularity(granularity)
    _check_hash_bits(hash_bits)
    dual = hash_bits == 128
    keys = ("h", "h2") if dual else ("h",)
    if method == "auto":
        method = "arrow"
    if method not in ("arrow", "column"):
        raise ValueError(f"unknown rebuild method: {method!r}")
    if method == "column":
        if plan == "broadcast":
            raise ValueError(
                "method='column' rebuilds via the join plan; the "
                "broadcast rebuild is an arrow kernel — use "
                "plan='join' (or method='arrow')")
        plan = "join"
    spark = df.sparkSession
    est = _resolve_est(df, n, text_col, est_windows, granularity)
    # probe first (memo keys on the unspread plan), then spread: the
    # window kernel, the rebuild scan, and the join plan all run at
    # the spread width
    df = _spread_kernel_input(df, text_col)

    arrays = None
    if plan in ("auto", "broadcast"):
        # capped collect: LIMIT cap+1 bounds what can ever reach the
        # driver, and the collected rows ARE the broadcast payload —
        # auto never pays a second aggregate pass to count first
        d = _dup_grams(
            span_windows(df, n, text_col, id_col, "arrow", granularity,
                         hash_bits),
            id_col, min_df, est, keys)
        tbl = (d.select(*keys, "first.i", "first.p")
               .limit(max_broadcast_grams + 1).toArrow())
        if tbl.num_rows > max_broadcast_grams:
            if plan == "broadcast":
                raise ValueError(
                    f"dup-window set exceeds max_broadcast_grams="
                    f"{max_broadcast_grams}; use plan='join' (or "
                    "raise the cap)")
            plan = "join"
        else:
            arrays = tbl
            plan = "broadcast"

    if plan == "broadcast":
        return _broadcast_removal_scan(df, arrays, policy, n,
                                       text_col, id_col, granularity,
                                       with_stats, dual)

    if plan != "join":
        raise ValueError(f"unknown plan: {plan!r}")

    w = span_windows(df, n, text_col, id_col, "auto", granularity,
                     hash_bits)
    d = _dup_grams(w, id_col, min_df, est, keys)
    rem = w.join(d, list(keys))
    if policy == "keep_first":
        rem = rem.filter(
            ~((F.col("first.i") == F.col(id_col))
              & (F.col("first.p") == F.col("pos"))))
    starts = (rem.groupBy(id_col)
              .agg(F.collect_list("pos").alias("__dup_starts")))
    base = df
    if with_stats:
        # join-plan stats: the dup_span_stats aggregates over the
        # same lazy window/dup-set frames, joined onto the output
        # (docs with no windows — NULL or all-blank text — get
        # n_windows=0 rather than dropping from the output; NULL
        # text keeps NULL stats to match the broadcast scan)
        j = w.join(d, list(keys), "left")
        not_first = (
            F.col("df").isNotNull()
            & ~((F.col("first.i") == F.col(id_col))
                & (F.col("first.p") == F.col("pos"))))
        st = (j.groupBy(id_col).agg(
            F.count("*").alias("n_windows"),
            F.count("df").alias("n_dup_windows"),
            F.sum(not_first.cast("long")).alias("n_removable_windows"),
            (F.count("df") / F.count("*")).alias("dup_fraction")))
        nn = F.col(text_col).isNotNull()
        base = df.join(st, id_col, "left")
        for c in ("n_windows", "n_dup_windows", "n_removable_windows"):
            base = base.withColumn(
                c, F.when(nn, F.coalesce(F.col(c), F.lit(0))))
        base = base.withColumn(
            "dup_fraction", F.when(nn, F.col("dup_fraction")))
    joined = base.join(starts, id_col, "left")

    if method == "column":
        toks = _COL_TOKS[granularity](text_col)
        m = F.size(toks)
        wdt = F.least(F.lit(n), m)
        ds = F.coalesce(F.col("__dup_starts"),
                        F.array().cast("array<int>"))
        idx = F.sequence(F.lit(0), m - 1)
        kept = F.filter(
            idx,
            lambda p: ~F.exists(ds, lambda s: (p >= s)
                                & (p <= s + wdt - 1)))
        nn = F.col(text_col).isNotNull()  # NULL text -> NULL outputs
        # sequence(0, -1) DESCENDS: a 0-token doc (all-blank text
        # under line/paragraph granularity) must keep an EMPTY index
        # array, not [0, -1]
        if granularity != "word":
            kept = F.when(m > 0, kept).otherwise(
                F.array().cast("array<int>"))
        # n_removed = m - |kept|: the O(tokens x dup_starts) coverage
        # predicate runs ONCE (materialized in __kept), not once per
        # output column
        return (
            joined
            .withColumn("__kept", F.when(nn, kept))
            .withColumn("clean_text", F.array_join(
                F.transform(F.col("__kept"),
                            lambda p: F.element_at(toks, p + 1)),
                _JOINERS[granularity]))
            .withColumn("n_removed_words",
                        F.when(nn, m - F.size(F.col("__kept")))
                        .cast("int"))
            .drop("__dup_starts", "__kept")
        )

    out_schema = T.StructType(
        [f for f in joined.schema if f.name != "__dup_starts"]
        + [T.StructField("clean_text", T.StringType()),
           T.StructField("n_removed_words", T.IntegerType())])

    def rebuild(batches):
        for b in batches:
            toks_list = _tokenize(b[text_col].tolist(), granularity)
            starts_list = list(b["__dup_starts"])
            texts_out: list = []
            removed_out: list = []
            _rebuild_batch(toks_list, starts_list, n,
                           texts_out, removed_out,
                           _JOINERS[granularity])
            out = b.drop(columns=["__dup_starts"])
            out["clean_text"] = texts_out
            out["n_removed_words"] = pd.array(removed_out, dtype="Int32")
            yield out

    return joined.mapInPandas(rebuild, out_schema)


# ---------------------------------------------------------------------------
# cross-run incremental span dedup
# ---------------------------------------------------------------------------

# bumped whenever the window-hash construction changes: gram counts
# from different formulas never align, so a drifted reader would
# silently strip nothing (or the wrong spans).  Non-word granularity
# is FOLDED INTO the stored formula string ("posgram-v1+line"): the
# tokenization changes the hashes just as much as the combine would,
# and folding it in makes a granularity-unaware (older) reader fail
# the formula check LOUDLY instead of probing line hashes with word
# hashes and silently stripping nothing (round-9 review finding).
_SPAN_FORMULA = "posgram-v1"


def _span_formula(granularity: str) -> str:
    return (_SPAN_FORMULA if granularity == "word"
            else f"{_SPAN_FORMULA}+{granularity}")


def write_span_gram_table(df: DataFrame, table: str, n: int = 6,
                          text_col: str = "text", id_col: str = "doc_id",
                          n_buckets: int = 64,
                          path: str | None = None,
                          est_windows=None,
                          granularity: str = "word") -> None:
    """Persist a corpus's window-gram COUNT table as the cross-run
    "seen" state for :func:`remove_duplicate_spans_incremental`: one
    row per distinct window hash — (h, df, first_i, first_p) — written
    BUCKETED on h (the dedup_incremental_lsh posture: pre-pay the
    seen-side shuffle once at write time; every nightly batch then
    equi-joins its OWN gram aggregate against the stored table with no
    exchange on the corpus side).

    Unlike the banded signature tables this stores ALL grams, not just
    duplicated ones: a gram seen ONCE in the corpus plus once in a
    batch is a cross-run duplicate at min_df=2, so the probe needs
    every count.  The table is therefore proportional to the corpus's
    distinct-window count — the same asymptotics as the signature
    tables (corpus x bands rows there, distinct windows here).

    The window width ``n``, hash formula, tokenization
    ``granularity``, and (for numeric ids) the corpus's id RANGE are
    persisted as ``<table>__params`` with the
    crash-safe drop-before/create-after ordering (a rebuild killed
    mid-write leaves no sidecar, so readers fail loudly instead of
    probing with drifted parameters).  The id range lets the
    incremental probe VALIDATE the run-id-disjointness contract
    instead of trusting it (round-8 ADVICE): a batch id inside the
    stored range could collide with a recorded first occurrence and
    silently keep a span that should be stripped."""
    _check_granularity(granularity)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}__params")
    est = _resolve_est(df, n, text_col, est_windows, granularity)
    grams = (_dup_grams(span_windows(_spread_kernel_input(df, text_col),
                                     n, text_col, id_col, "arrow",
                                     granularity),
                        id_col, min_df=1, est_windows=est)
             .select("h", "df",
                     F.col("first.i").alias("first_i"),
                     F.col("first.p").alias("first_p")))
    from ..sources import write_bucketed

    # deliberately NOT sortBy("h"): a same-session A/B at 10M docs
    # (BASELINE round-8) measured sorted buckets 3x slower to build
    # (87.6 vs 30.4 s) with a SLOWER probe (10.6/5.1 vs 6.3/3.4 s) —
    # each write task emits its own file per bucket, so buckets hold
    # many sorted files, Spark cannot trust the ordering, and the
    # probe join re-sorts anyway; the write-time sort is a pure loss
    write_bucketed(grams, table, ["h"], n_buckets, path=path)
    # id bounds from the WRITTEN gram table (hash + 3 ints per
    # distinct gram — far cheaper than rescanning text); every
    # non-null-text doc has >= 1 window, so min/max(first_i) bound
    # every id that can ever appear as a recorded first occurrence
    min_id = max_id = None
    if isinstance(df.schema[id_col].dataType,
                  (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        b = spark.table(table).agg(
            F.min("first_i"), F.max("first_i")).first()
        if b[0] is not None:
            min_id, max_id = int(b[0]), int(b[1])
    pw = spark.createDataFrame(
        [(_span_formula(granularity), int(n), granularity,
          min_id, max_id)],
        "formula string, n int, granularity string, "
        "min_id bigint, max_id bigint",
    ).write.mode("overwrite")
    if path is not None:
        pw = pw.option("path", f"{path}__params")
    pw.saveAsTable(f"{table}__params")
    # a rewritten sidecar must not serve a stale memoized row
    from .sizing import invalidate_params_memo

    invalidate_params_memo(df.sparkSession, table)


def _load_span_params(spark, table: str):
    """Validated ``__params`` row for a span gram table (loud on the
    empty-sidecar and drifted-formula states; the formula string
    carries the granularity for non-word tables, and it must agree
    with the sidecar's granularity column)."""
    from .sizing import memoized_params_row

    def load():
        rows = spark.table(f"{table}__params").collect()
        if not rows:
            raise ValueError(
                f"span gram table {table!r} has an EMPTY __params sidecar "
                "(an interrupted write left the table in an unusable "
                "state) — rebuild it with write_span_gram_table.")
        p = rows[0]
        stored = getattr(p, "formula", None)
        gran = getattr(p, "granularity", None) or "word"
        if stored != _span_formula(gran):
            raise ValueError(
                f"span gram table {table!r} was written with hash formula "
                f"{stored!r}; this reader computes "
                f"{_span_formula(gran)!r} — counts from different "
                "formulas never align (every batch span would silently "
                "look fresh).  Rebuild the table with "
                "write_span_gram_table.")
        return p

    # memoized per (session, table): writers invalidate on rewrite
    return memoized_params_row(spark, table, load)


def load_span_gram_table(spark, table: str):
    """Open a :func:`write_span_gram_table` table by NAME with the
    loud safety checks (empty sidecar from an interrupted write,
    drifted hash formula).  Returns (grams DataFrame, n,
    granularity) — consumers computing their own window hashes
    against the table MUST use the returned granularity (its
    tokenization changes the hashes just as much as the window
    width does)."""
    p = _load_span_params(spark, table)
    return (spark.table(table), int(p.n),
            getattr(p, "granularity", None) or "word")


def remove_duplicate_spans_incremental(
        new_df: DataFrame, seen, /, min_df: int = 2,
        policy: str = "keep_first", text_col: str = "text",
        id_col: str = "doc_id",
        max_broadcast_grams: int = _MAX_BROADCAST_GRAMS,
        validate_ids: bool = True,
        with_stats: bool = False) -> DataFrame:
    """Cross-run span dedup: strip from a nightly batch every window
    duplicated against the PERSISTED corpus gram table plus the batch
    itself — without rescanning the corpus.

    Semantics: combined df = corpus count + batch count; under
    ``keep_first`` the CORPUS always wins — temporal precedence, the
    corpus was there first, regardless of how its ids compare to the
    batch's — and grams the corpus has never seen keep their
    batch-min occurrence.  This equals batch
    :func:`remove_duplicate_spans` over (seen UNION batch) restricted
    to the batch's rows (asserted per-document in tests) EXACTLY WHEN
    every seen id orders below every batch id; with interleaved id
    spaces the union's min-(id, pos) rule could hand "first" to a
    batch doc, which a nightly pipeline never wants (run ids must
    still be disjoint — the dedup_incremental contract).

    ``seen`` is a :func:`write_span_gram_table` NAME (window width,
    hash formula, and granularity come from the ``__params`` sidecar —
    a drifted reader fails loudly, never silently).

    Scale shape: the batch's gram aggregate (BATCH-sized) joins the
    bucketed table with no exchange on the corpus side; the resulting
    dup set is batch-bounded by construction, so it broadcasts back
    into ONE rebuild scan of the batch (``max_broadcast_grams`` guards
    the driver; a batch whose distinct duplicated grams exceed it
    should be split — the cap raises loudly).  Total cost tracks the
    BATCH size, never the corpus.

    ``with_stats=True`` fuses the per-doc duplicated-window profile
    into the rebuild scan (free — the scan already probes every
    window; counts are vs the COMBINED corpus+batch dup set).
    ``validate_ids=False`` bypasses the id-range check for id sets
    that are disjoint but interleave in range.
    """
    if policy not in ("keep_first", "all"):
        raise ValueError(f"unknown policy: {policy!r}")
    spark = new_df.sparkSession
    if not isinstance(seen, str):
        raise TypeError(
            "seen must be a write_span_gram_table table NAME — the "
            "window width and hash formula live in its __params "
            "sidecar, and probing with drifted parameters would "
            "silently strip nothing")
    p = _load_span_params(spark, seen)
    seen_grams, n = spark.table(seen), int(p.n)
    granularity = getattr(p, "granularity", None) or "word"
    # validate, don't trust, the run-id-disjointness contract (round-8
    # ADVICE): under keep_first a batch (id, pos) equal to a stored
    # first occurrence would silently KEEP a span that should be
    # stripped.  When the write recorded a numeric id range, a
    # batch-sized min/max agg detects range overlap loudly; policy
    # 'all' strips every occurrence, so firsts (and id collisions)
    # cannot change its output and the check is skipped.
    smin = getattr(p, "min_id", None)
    if validate_ids and policy == "keep_first" and smin is not None:
        smax = int(p.max_id)
        # the batch's id bounds are a pure function of its plan —
        # memoized like every other guard probe (round-13 #4 pattern)
        from .sizing import memoized_probe

        bb = memoized_probe(
            new_df, ("id_range", id_col),
            lambda: new_df.agg(F.min(id_col).alias("lo"),
                               F.max(id_col).alias("hi")).first())
        if bb["lo"] is not None and not (int(bb["lo"]) > smax
                                         or int(bb["hi"]) < int(smin)):
            raise ValueError(
                f"batch {id_col} range [{bb['lo']}, {bb['hi']}] "
                f"overlaps the seen corpus's stored id range "
                f"[{smin}, {smax}] — run ids must be disjoint "
                "(temporal precedence records the corpus occurrence "
                "as 'first'; a batch id equal to a seen id would "
                "silently keep a span that should be stripped).  "
                "Re-key the batch above the corpus id space, or — if "
                "your id SETS are genuinely disjoint but interleave "
                "in range (the cheap check can only see bounds) — "
                "pass validate_ids=False.")

    # guards/probes above key on the unspread plan; spread once here
    # so the batch gram kernel AND the rebuild scan run wide
    new_df = _spread_kernel_input(new_df, text_col)
    b = _dup_grams(span_windows(new_df, n, text_col, id_col, "arrow",
                                granularity),
                   id_col, min_df=1)
    # combined df = corpus count + batch count; the recorded "first"
    # is the corpus's occurrence whenever it has the gram (temporal
    # precedence — see the docstring; no batch (id, pos) can equal a
    # seen one because run ids are disjoint), else the batch's min
    d = (b.withColumnRenamed("df", "bdf")
         .join(seen_grams, "h", "left")
         .where((F.coalesce(F.col("df"), F.lit(0)) + F.col("bdf"))
                >= min_df)
         .select(
             "h",
             F.when(F.col("df").isNotNull(), F.col("first_i"))
             .otherwise(F.col("first.i")).alias("i"),
             F.when(F.col("df").isNotNull(), F.col("first_p"))
             .otherwise(F.col("first.p")).alias("p")))
    tbl = d.limit(max_broadcast_grams + 1).toArrow()
    if tbl.num_rows > max_broadcast_grams:
        raise ValueError(
            f"the batch's duplicated-gram set exceeds "
            f"max_broadcast_grams={max_broadcast_grams}; split the "
            "batch (or raise the cap)")
    return _broadcast_removal_scan(new_df, tbl, policy, n,
                                   text_col, id_col, granularity,
                                   with_stats)
