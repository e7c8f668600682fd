"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the part that matters at 100 TB):

* **Exact dedup** groups on a 64-bit content hash, NOT the raw text —
  the shuffle carries 8-byte keys instead of documents.  Winner choice
  is deterministic (min id).
* **MinHash LSH** is the classic shingle -> signature -> band-bucket
  pipeline: per-row work is pure Column expressions (codegen), the only
  shuffle is on (band, band-hash) keys, and candidate verification is a
  self-equi-join on bucket keys — never a cross join.
* **SimHash** gets its per-token hashes JVM-side; the 64-bit signature
  fold is an Arrow-batched pandas_udf (numpy bit ops).  Near-dup
  candidates use the pigeonhole banding trick on 16-bit chunks.
* **n-gram Jaccard** is a similarity join via shingle inverted index
  (explode -> equi-join on shingle -> count) — equivalent SQL runs on
  DuckDB, so this one is oracle-checkable.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .localrel import local_relation

__all__ = [
    "auto_minhash_params",
    "agreement_gate",
    "load_signature_table",
    "dedup_clusters",
    "dedup_exact",
    "dedup_incremental",
    "dedup_incremental_lsh",
    "exact_dup_stats",
    "write_signature_table",
    "jaccard_verify_pairs",
    "minhash_signatures",
    "minhash_banded",
    "minhash_lsh_candidates",
    "minhash_lsh_stats",
    "ngram_jaccard_pairs",
    "release_candidates_cache",
    "release_clusters_checkpoint",
    "word_ngram_jaccard_pairs",
    "simhash_signatures",
    "simhash_banded",
    "simhash_candidates",
]

# MinHash permutation modulus.  Mersenne-31, NOT a larger prime: the
# multiplier must be free to range over [1, p) so that a*x wraps the
# modulus ~2^31 times across the 32-bit shingle-hash domain — that
# wrap count is what makes h(x) = (a*x + b) mod p behave like a random
# permutation.  (An earlier revision used M61 with a < 2^29 to keep
# a*x inside signed-64 range; the product then wrapped AT MOST TWICE,
# leaving h piecewise order-preserving — every "permutation" selected
# the document's smallest shingle hash, so any two documents sharing
# one globally-low-hash shingle agreed on ALL minhash components:
# measured 32/32 agreement at true jaccard 0.03, 0.14% candidate
# precision, and artificial mega-buckets.)  With p = 2^31 - 1, shingle
# hashes reduce mod p first, (h%p)*a + b < 2^62 + 2^31 stays exact in
# signed 64-bit on Spark, DuckDB, AND numpy uint64 — the same
# arithmetic runs on all three engines.
_MERSENNE31 = (1 << 31) - 1

# Version tag for the signature FORMULA itself, persisted with every
# signature table: identical (num_perm, bands, seed, hash_fn) values
# produce entirely different signatures if the permutation formula
# changes (as it did when M61 -> M31 fixed the order-preserving hash),
# and a formula-drifted reader would silently report every document as
# fresh.  Bump this on ANY change to the permutation arithmetic.
_SIG_FORMULA = "minhash-m31-v1"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                exact: bool = False) -> DataFrame:
    """Keep one row (min ``id_col``) per distinct ``text_col`` value.

    Default groups on ``xxhash64(text)`` so the shuffle key is 8 bytes
    (collision probability ~n^2/2^64 — negligible below ~10^9 docs; pass
    ``exact=True`` to group on the full text when absolute certainty is
    required).
    Returns (id, n_copies) per surviving document.
    """
    key = F.col(text_col) if exact else F.xxhash64(F.col(text_col))
    return (
        df.groupBy(key.alias("__k"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__k")
    )


def dedup_incremental(new_df: DataFrame, seen_df: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      exact: bool = False,
                      seen_key_col: str | None = None) -> DataFrame:
    """Cross-RUN dedup: keep only documents whose content was not seen
    in a previous run — the incremental ingest step of a continuously
    growing corpus (run N's new crawl against runs 1..N-1's winners).

    Anti-join on the 8-byte ``xxhash64`` content key (``exact=True``
    joins on the full text), then within-batch duplicates collapse to
    the min-id winner.  Semantics are FIRST-RUN-WINS: a document seen
    in an earlier run keeps its earlier winner even if a later run
    carries a smaller id for the same text, and ``n_copies`` counts
    within-batch copies only (earlier-run copies were counted by the
    run that first saw them).  Chaining runs therefore reproduces a
    single global :func:`dedup_exact` over the union exactly when ids
    are monotone across runs (each run's ids exceed all prior runs'
    ids — the natural shape for crawl snapshots); with non-monotone
    ids the winner is the first RUN's min-id, not the global min-id.
    At scale, persist the seen side bucketed on a MATERIALIZED content
    hash column (``sources.write_bucketed``) and pass its name as
    ``seen_key_col``: the anti-join then joins on the stored bucketed
    column directly, so the (big) seen table co-locates without an
    exchange — only the (small) new batch shuffles.  Bucketed
    co-location requires the join key to BE the bucketed column; a
    recomputed ``xxhash64(text)`` expression would not qualify, which
    is why the precomputed-key path exists.  (Asserted by
    ``tests/test_plans.py::test_incremental_bucketed_seen_join_has_no_
    seen_side_exchange``.)

    Returns (id, n_copies) per NEW surviving document, like
    :func:`dedup_exact`.

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> from dask_histogram_spark.operators import dedup_incremental
    >>> spark = get_spark("doctest", cpus=2)
    >>> seen = spark.createDataFrame([(1, "alpha"), (2, "beta")],
    ...                              "doc_id long, text string")
    >>> new = spark.createDataFrame(
    ...     [(10, "alpha"), (11, "gamma"), (12, "gamma")],
    ...     "doc_id long, text string")
    >>> sorted((r.doc_id, r.n_copies)
    ...        for r in dedup_incremental(new, seen).collect())
    [(11, 2)]
    """
    def key(c: Column) -> Column:
        return c if exact else F.xxhash64(c)

    if seen_key_col is not None:
        if exact:
            # the stored seen key is a 64-bit hash; joining raw text
            # against it would compare string vs bigint — every
            # comparison null under non-ANSI (nothing ever dedups) or
            # a cast error under ANSI
            raise ValueError(
                "exact=True is incompatible with seen_key_col (the "
                "stored key is a content hash, not the text)")
        seen_keys = seen_df.select(
            F.col(seen_key_col).alias("__k")
        ).distinct()
    else:
        seen_keys = seen_df.select(
            key(F.col(text_col)).alias("__k")
        ).distinct()
    fresh = (
        new_df.select(F.col(id_col), key(F.col(text_col)).alias("__k"))
        .join(seen_keys, "__k", "left_anti")
    )
    return (
        fresh.groupBy("__k")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("__k")
    )


def exact_dup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Aggregate duplication profile: distinct docs, dup groups, rows
    removable by exact dedup."""
    per_group = df.groupBy(F.xxhash64(F.col(text_col)).alias("__k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return per_group.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum(F.col("n") - 1).alias("n_removable"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _shingle_hashes(text: Column, k: int,
                    hash_fn: str = "xxhash64") -> Column:
    """Distinct k-character shingles -> 32-bit hashes (kept < 2^32 so the
    universal-hash product below stays in long range under ANSI mode).

    ``hash_fn="fnv1a32"`` swaps xxhash64 for the per-character FNV-1a
    fold any SQL engine reproduces exactly — the oracle-checkable
    configuration (see text.py)."""
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
            lambda i: F.substring(text, i, k),
        )
    )
    if hash_fn == "xxhash64":
        return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 32)))
    if hash_fn == "fnv1a32":
        from .text import _fnv1a32

        return F.transform(shingles, _fnv1a32)
    raise ValueError(f"unknown shingle hash_fn: {hash_fn!r}")


def _fnv1a32_shingles_np(s: str, k: int) -> np.ndarray:
    """numpy twin of ``_shingle_hashes(..., hash_fn="fnv1a32")``: FNV-1a
    32-bit over the code points of every k-char window (uint32 wrap
    multiply == the Column fold's ``pmod(x * 16777619, 2^32)``).

    Skips the Column path's string-level dedup — duplicate hashes
    cannot change a min, which is the only consumer.  Short/empty text
    follows the Column edge case: one shingle = the whole text;
    ``ascii('') == 0`` for the empty string."""
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    if len(cp) >= k:
        W = np.lib.stride_tricks.sliding_window_view(cp, k)
        h = np.full(W.shape[0], 2166136261, dtype=np.uint32)
        for j in range(k):
            h = (h ^ W[:, j]) * np.uint32(16777619)
        return h.astype(np.uint64)
    if len(cp) == 0:
        cp = np.zeros(1, dtype=np.uint32)  # ascii('') == 0
    h = np.uint32(2166136261)
    with np.errstate(over="ignore"):  # uint32 wrap is the hash
        for c in cp:
            h = (h ^ c) * np.uint32(16777619)
    return np.array([h], dtype=np.uint64)


def _fnv_shingles_flat(texts: list, k: int, bits: int) -> tuple:
    """Batched twin of ``[_fnv1a{bits}_shingles_np(t, k) for t in
    texts]`` — ONE utf-32 encode of the whole Arrow batch and ONE
    slice-shifted fold over it (k contiguous passes, no per-window
    gather), with the window hashes that would cross a document
    boundary gathered out afterwards.  The per-document Python loop
    was the kernel's dominant cost at realistic document sizes
    (round-15: 0.32 s of per-doc overhead for 1.5 M shingles at
    sf0.1); this form is one encode + k vectorized passes regardless
    of batch size.

    Returns ``(H, lens)`` with ``H[off[i] : off[i] + lens[i]]``
    bit-identical (values AND order) to the per-doc kernel's output
    for ``texts[i]`` — pinned by the differential test
    ``test_fnv_batch_kernel_matches_per_doc``.  Documents shorter
    than ``k`` (including empty) take the per-doc scalar fold, same
    as before.  ``texts`` must be ``str`` (callers normalize None).
    """
    n = len(texts)
    clens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n)
    long_m = clens >= k
    out_lens = np.where(long_m, clens - (k - 1), 1)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(out_lens[:-1], out=off[1:])
    per_doc = (_fnv1a32_shingles_np if bits == 32 else _fnv1a64_shingles_np)
    out_dt = np.uint64 if bits == 32 else np.int64
    H = np.empty(int(out_lens.sum()), dtype=out_dt)
    if long_m.any():
        cp = np.frombuffer("".join(texts).encode("utf-32-le"),
                           dtype=np.uint32)
        if bits == 32:
            work_dt = np.uint32
            offset, prime = np.uint32(2166136261), np.uint32(16777619)
        else:
            cp = cp.astype(np.uint64)
            work_dt = np.uint64
            offset = np.uint64(14695981039346656037)
            prime = np.uint64(1099511628211)
        nw = len(cp) - k + 1
        h = np.full(nw, offset, dtype=work_dt)
        with np.errstate(over="ignore"):  # uintN wrap is the hash
            for j in range(k):
                h = (h ^ cp[j:j + nw]) * prime
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(clens[:-1], out=starts[1:])
        lcounts = out_lens[long_m]
        coff = np.zeros(len(lcounts), dtype=np.int64)
        np.cumsum(lcounts[:-1], out=coff[1:])
        ar = np.arange(int(lcounts.sum()), dtype=np.int64)
        src = np.repeat(starts[long_m] - coff, lcounts) + ar
        dst = np.repeat(off[long_m] - coff, lcounts) + ar
        if bits == 32:
            H[dst] = h[src].astype(np.uint64)
        else:
            H[dst] = h[src].view(np.int64)
    for i in np.nonzero(~long_m)[0]:
        H[off[i]] = per_doc(texts[i], k)[0]
    return H, out_lens


def agreement_gate(num_perm: int, jaccard: float = 0.9,
                   miss_rate: float = 1.1e-2) -> int:
    """Derive a MinHash component-agreement gate from theory, not
    tuning: the largest g such that a true pair at shingle-jaccard
    ``jaccard`` still passes ``sig_matches >= g`` with probability
    >= 1 - miss_rate, under the exact Binomial(num_perm, jaccard)
    model of per-component agreement (each permutation's minhashes
    agree independently with probability J).

    This is how the library's gates are derived rather than tuned
    against a particular corpus (empirically-tuned gates once silently
    inherited a broken permutation; see the _MERSENNE31 note).  The
    default ~1.1% miss budget reproduces the library's documented and
    measured operating points at num_perm=32: ``agreement_gate(32,
    0.9) == 24`` (actual miss 3.3e-3) and ``agreement_gate(32, 0.5)
    == 10`` (actual miss 1.0e-2) — the two gates every BASELINE.md
    recall/FP table characterizes.  Exact CDF, no normal
    approximation: num_perm is small.
    """
    from math import comb

    p = float(jaccard)
    # walk g upward while the survival P(X >= g) stays above 1 - miss
    tail = 1.0
    gate = 0
    for g in range(num_perm + 1):
        if tail < 1.0 - miss_rate:
            break
        gate = g
        # subtract P(X = g) to get P(X >= g+1)
        tail -= comb(num_perm, g) * (p ** g) * ((1.0 - p) ** (num_perm - g))
    return gate


def auto_minhash_params(target_jaccard: float = 0.9,
                        miss_rate: float = 1e-2,
                        fp_jaccard: float = 0.3,
                        max_fp_rate: float = 0.1,
                        num_perm_choices: tuple[int, ...] = (32, 64, 128)
                        ) -> tuple[int, int]:
    """Theory-derived (num_perm, bands) for MinHash LSH — the banding
    companion of :func:`agreement_gate` (which derives the COMPONENT
    gate once num_perm is fixed): the cheapest configuration whose
    S-curve 1 - (1 - J^r)^bands (r = num_perm / bands) catches a true
    pair at ``target_jaccard`` with probability >= 1 - miss_rate while
    a dissimilar pair at ``fp_jaccard`` becomes a CANDIDATE with
    probability <= ``max_fp_rate``.

    Candidate false positives only cost verify compute (the agreement
    gate and the exact-jaccard verify kill them downstream), so
    ``max_fp_rate`` is a cost knob, not a correctness one — loosen it
    before concluding infeasibility.  Cost order: smallest num_perm
    first (signature width = the persisted bytes and the kernel work),
    then fewest bands (band rows per doc = the shuffle volume).
    Raises if nothing in ``num_perm_choices`` satisfies both; the
    flagship ladder's own configuration (32 perms, 8 bands) is the
    solution for the default arguments."""
    for num_perm in sorted(num_perm_choices):
        feasible = []
        for bands in range(1, num_perm + 1):
            if num_perm % bands:
                continue
            r = num_perm // bands
            catch = 1.0 - (1.0 - float(target_jaccard) ** r) ** bands
            fp = 1.0 - (1.0 - float(fp_jaccard) ** r) ** bands
            if catch >= 1.0 - miss_rate and fp <= max_fp_rate:
                feasible.append(bands)
        if feasible:
            return num_perm, min(feasible)
    raise ValueError(
        f"no (num_perm, bands) in {num_perm_choices} meets "
        f"catch>={1 - miss_rate} at J={target_jaccard} with candidate "
        f"FP<={max_fp_rate} at J={fp_jaccard}; loosen max_fp_rate "
        "(candidates are verified downstream) or allow wider signatures")


# shingles per block of the Arrow fold's lane loop: the block's hash,
# value and scratch buffers (~0.8 MB) stay resident in a per-core L2
_FOLD_BLOCK = 1 << 15


def _perm_coeffs(num_perm: int, seed: int = 17) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    # a over the FULL multiplicative range [1, p): see _MERSENNE31 note
    a = rng.integers(1, _MERSENNE31, size=num_perm)
    b = rng.integers(0, _MERSENNE31, size=num_perm)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_perm: int = 64,
                       shingle_k: int = 5, seed: int = 17,
                       hash_fn: str = "xxhash64",
                       method: str = "auto") -> DataFrame:
    """(id, sig: array<long>[num_perm]) MinHash signature per document.

    Universal hashing h_j(x) = (a_j*(x mod M31) + b_j) mod M31 over
    32-bit shingle hashes (M31 = 2^31 - 1; see the ``_MERSENNE31``
    note for why the modulus/multiplier ranges matter); min per
    permutation.  Shingle hashing is ALWAYS JVM Column
    expressions (so xxhash64 and the SQL-portable fnv1a32 stay exact);
    ``hash_fn="fnv1a32"`` makes the whole pipeline reproducible in
    plain SQL (permutation coefficients are seeded, so only the base
    hash separated this from an oracle).

    ``method`` picks the permutation-min fold:

    - ``"arrow"`` (the ``"auto"`` default): a vectorized numpy kernel
      over Arrow batches — the hash arrays ship columnar, each batch is
      one concatenate + num_perm fused multiply-mod passes with
      segmented minima (``np.minimum.reduceat``).  Bit-identical to the
      Column fold (uint64 intermediates < 2^62, exact ``% M31``) and
      measured ~4x faster at sf0.1 (the Column HOF fold evaluates
      a num_perm-wide transform per shingle in the interpreter).
    - ``"column"``: pure Column higher-order-function fold — zero
      Python in the plan; the portable reference implementation the
      Arrow kernel is differentially tested against.
    """
    # NULL text is excluded: it yields no shingles, and leaving it in
    # would give every null doc the identical signature (the null
    # shingle hashes to a constant), colliding them all in LSH
    df = df.where(F.col(text_col).isNotNull())
    coeffs = _perm_coeffs(num_perm, seed)
    if method == "auto":
        method = "arrow"
    if method == "arrow":
        An = np.array([a for a, _ in coeffs], dtype=np.uint64)
        Bn = np.array([b for _, b in coeffs], dtype=np.uint64)
        M = np.uint64(_MERSENNE31)
        k = shingle_k

        def perm_mins(H: "np.ndarray", lens: "np.ndarray") -> pd.Series:
            # every doc yields >= 1 shingle (greatest(..., 1)), so
            # segments are never empty.  The per-lane `% M` is a
            # Mersenne-prime reduction (2^31 ≡ 1 mod M31, so
            # x mod M31 folds as (x & M) + (x >> 31)) — shift/add/
            # compare instead of a 64-bit divide per element per lane,
            # exact for the < 2^62 + 2^31 intermediates here (two
            # folds bound v by 2^31, one conditional subtract
            # finishes; round-15: the divide was the fold's hot op).
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            sigs = np.empty((len(lens), len(An)), dtype=np.int64)
            sh31 = np.uint64(31)
            Hm = H % M  # reduce once: (Hm * a + b) < 2^62 + 2^31, exact
            # The lane loop is memory-traffic-bound, so it runs over
            # doc-aligned blocks of ~_FOLD_BLOCK shingles whose buffers
            # stay cache-resident across all lanes (a doc longer than a
            # block is a block of its own), with in-place ufuncs and
            # no per-lane temporaries.
            starts = np.append(offsets, len(Hm))
            cuts = np.unique(np.append(np.searchsorted(
                offsets, np.arange(0, len(Hm), _FOLD_BLOCK)), len(lens)))
            for d0, d1 in zip(cuts[:-1], cuts[1:]):
                hb = Hm[starts[d0]:starts[d1]]
                seg = offsets[d0:d1] - starts[d0]
                v = np.empty_like(hb)
                t = np.empty_like(hb)
                mb = np.empty(len(hb), dtype=bool)
                for j in range(len(An)):
                    np.multiply(hb, An[j], out=v)
                    v += Bn[j]
                    np.right_shift(v, sh31, out=t)
                    v &= M
                    v += t                      # < 2^32
                    np.right_shift(v, sh31, out=t)
                    v &= M
                    v += t                      # <= 2^31
                    np.greater_equal(v, M, out=mb)
                    v[mb] -= M                  # == v % M, exactly
                    sigs[d0:d1, j] = np.minimum.reduceat(v, seg)
            return pd.Series(list(sigs))

        if hash_fn == "fnv1a32":
            # hash AND fold in one numpy kernel straight off the text:
            # FNV-1a32 is per-code-point uint32 wrap arithmetic, exactly
            # the Column fold's pmod(... * 16777619, 2^32) (differential
            # test: test_operators.test_minhash_arrow_column_identical).
            # (The Column hash expression cannot feed a pandas_udf —
            # its nested aggregate lambda is not interpretable inside
            # the Arrow eval boundary — and shipping text once is no
            # more shuffle than shipping the hash arrays.)  The
            # whole batch is shingled in ONE encode + k vectorized
            # passes (_fnv_shingles_flat), not a per-doc loop.
            @F.pandas_udf(T.ArrayType(T.LongType()))
            def fold_text(texts: pd.Series) -> pd.Series:
                if len(texts) == 0:
                    return pd.Series([], dtype=object)
                H, lens = _fnv_shingles_flat(
                    [t or "" for t in texts], k, 32)
                return perm_mins(H, lens)

            return df.select(F.col(id_col),
                             fold_text(F.col(text_col)).alias("sig"))

        # xxhash64 must stay JVM-side (no exact Python twin): hash via
        # the Column transform (interpretable — no nested aggregate),
        # fold the hash arrays in numpy.
        hashes = _shingle_hashes(F.col(text_col), shingle_k, hash_fn)
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def fold(hs: pd.Series) -> pd.Series:
            if len(hs) == 0:
                return pd.Series([], dtype=object)
            arrs = [np.asarray(a, dtype=np.int64) for a in hs]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64,
                               count=len(arrs))
            H = np.concatenate(arrs).astype(np.uint64)
            return perm_mins(H, lens)

        return df.select(F.col(id_col), fold(hashes).alias("sig"))

    if method != "column":
        raise ValueError(f"unknown minhash fold method: {method!r}")
    hashes = _shingle_hashes(F.col(text_col), shingle_k, hash_fn)
    A = F.array(*[F.lit(a) for a, _ in coeffs])
    B = F.array(*[F.lit(b) for _, b in coeffs])
    # One fold over the shingle array: the shingle+hash subexpression is
    # evaluated ONCE per row (a naive per-permutation array_min would
    # re-shingle the text num_perm times — measured 16x plan blowup);
    # each shingle updates all num_perm running minima in place.
    sig = F.aggregate(
        hashes,
        F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_perm),
        lambda acc, h: F.transform(
            acc,
            lambda cur, j: F.least(
                cur,
                F.pmod(
                    F.pmod(h, F.lit(_MERSENNE31)) * F.element_at(A, j + 1)
                    + F.element_at(B, j + 1),
                    F.lit(_MERSENNE31),
                ),
            ),
        ),
    )
    return df.select(F.col(id_col), sig.alias("sig"))


def _sig_agreement(a, b) -> Column:
    """Count of agreeing MinHash signature components between two
    array<long> signature columns — the quantity :func:`agreement_gate`
    thresholds.  ONE definition shared by every gate site (batch
    incremental, streaming probe, near-dup contamination) so agreement
    semantics can never drift between them."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v))


def _band_explode(sigs: DataFrame, id_col: str, num_perm: int, bands: int,
                  hash_fn: str, keep: tuple[str, ...] = ()) -> DataFrame:
    """(id, [*keep,] band, bucket) from a (id, sig) projection — bucket
    keys are 8-byte xxhash64 of the band's signature slice by default;
    ``hash_fn="fnv1a32"`` keeps the raw value string so SQL oracles can
    reproduce the buckets (hashing only compresses the key — bucket
    membership, and hence candidates, are identical up to xxhash
    collisions).  ``keep`` carries extra columns (e.g. the signature
    itself for a persisted table whose reader runs the agreement gate
    without a second join)."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands

    # ONE F.expr SQL string instead of ~bands*(r+3) Column-builder
    # calls: every py4j round-trip at plan-build time is ~0.7 ms, and
    # this explode was ~100 of them per invocation (round-15 driver
    # profile).  The SQL resolves to the identical Catalyst tree
    # (named_struct/concat_ws/xxhash64 are the same expressions the
    # Column builders emit), pinned by the differential test.
    def band_key(b: int) -> str:
        parts = ", ".join(f"CAST(`sig`[{b * r + j}] AS STRING)"
                          for j in range(r))
        joined = f"concat_ws(',', {parts})"
        return joined if hash_fn == "fnv1a32" else f"xxhash64({joined})"

    arr = ", ".join(
        f"named_struct('band', {b}, 'bucket', {band_key(b)})"
        for b in range(bands))
    return sigs.select(
        F.col(id_col), *[F.col(c) for c in keep],
        F.expr(f"explode(array({arr}))").alias("bb"),
    ).select(id_col, *keep, "bb.band", "bb.bucket")


def minhash_banded(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", num_perm: int = 64,
                   bands: int = 16, shingle_k: int = 5,
                   seed: int = 17, hash_fn: str = "xxhash64",
                   method: str = "auto") -> DataFrame:
    """(id, band, bucket) LSH band-bucket membership per document —
    the shared projection behind the batch candidate generation
    (:func:`minhash_lsh_candidates`) and the streaming stateful
    detector (streaming/dedup.py).  The identical plan (including the
    signature fold's default Arrow kernel — a stateless projection,
    legal in streaming) runs on batch and streaming DataFrames; pass
    ``method="column"`` through :func:`minhash_signatures` for a
    pure-JVM plan on python-less executors."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k, seed,
                              hash_fn, method)
    return _band_explode(sigs, id_col, num_perm, bands, hash_fn)


# band-row shuffle model for the text-side LSH paths (the minhash twin
# of similarity._BAND_ROW_OVERHEAD_BYTES): each band row carries the
# 8-byte doc id + 4-byte band index + the bucket key (8-byte xxhash64,
# or the raw ~11-chars-per-component value string under fnv1a32) +
# ~40 B of tungsten/file framing; a persisted-table build additionally
# denormalizes the full num_perm x 8 B signature into every band row
_TEXT_ROW_OVERHEAD_BYTES = 40
# text-statistics sample for the preflight probe (see
# _text_band_preflight's docstring): enough rows for a few-percent
# average-length estimate under the 2x sort-spill safety factor,
# while reading ~2% of a production corpus instead of all of it
_PROBE_SAMPLE_FRACTION = 0.02
# below this many SAMPLED rows the probe re-runs as an exact agg: a
# sample this small both carries high relative error and implies a
# corpus (~ rows / fraction ~ 250k docs) small enough that the exact
# sum(octet_length) is no more expensive than the sampled one — and a
# heavy-tailed length distribution can hide rare giant documents from
# a few-hundred-row sample entirely (round-13 ADVICE)
_PROBE_EXACT_FALLBACK_ROWS = 5000


def _text_probe(df: DataFrame, text_col: str) -> tuple[int, int, int, int]:
    """Memoized text statistics for the band preflight and the
    pre-fold partition sizing: (row count, sampled rows, sampled
    non-null-text rows, sampled text bytes) — see
    :func:`_text_band_preflight` for the sampling rationale.  One
    probe job per distinct (session, plan, column); both consumers
    share the same memo entry."""
    from .sizing import memoized_probe

    def _probe() -> tuple[int, int, int, int]:
        smp = df.withColumn("__smp",
                            F.rand(13) < F.lit(_PROBE_SAMPLE_FRACTION))
        sampled_txt = F.when(F.col("__smp"), F.col(text_col))
        s = smp.agg(
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.col("__smp").cast("long")).alias("s_all"),
            F.count(sampled_txt).alias("s_txt"),
            F.coalesce(F.sum(F.octet_length(sampled_txt)), F.lit(0))
            .alias("s_chars")).first()
        n_all = int(s["n_all"])
        if not n_all:
            return 0, 0, 0, 0
        s_all, s_txt, s_chars = (int(s["s_all"] or 0), int(s["s_txt"]),
                                 int(s["s_chars"]))
        if s_all < _PROBE_EXACT_FALLBACK_ROWS:
            # small/mid corpus (or pathological sample): exact probe.
            # A few-hundred-row sample can miss rare giant documents
            # in a heavy-tailed length distribution and understate
            # total bytes (round-13 ADVICE), and below ~250k docs
            # (5000 sampled rows at 2%) the exact agg is as cheap as
            # the sampled one.
            e = df.agg(
                F.count(F.col(text_col)).alias("s_txt"),
                F.coalesce(F.sum(F.octet_length(F.col(text_col))),
                           F.lit(0)).alias("s_chars")).first()
            s_all, s_txt, s_chars = (n_all, int(e["s_txt"]),
                                     int(e["s_chars"]))
        return n_all, s_all, s_txt, s_chars

    # memoized per (session, semantic plan, column): chained pipelines
    # pass one corpus through several guarded operators, and each probe
    # re-executes the uncached upstream — one probe per distinct input
    # per session is enough (round-13 VERDICT #4; statistics drift is
    # within the guards' 2x safety factor)
    return memoized_probe(df, ("text_band", text_col), _probe)


def _probed_fold_parts(df: DataFrame, text_col: str) -> int:
    """Pre-fold spread width for the text-side signature folds: the
    byte-derived :func:`~.sizing.fold_partitions` count when the
    memoized text probe is available (local mode — the scratch
    preflight already paid for the probe), else the lazy
    2 x defaultParallelism fallback (cluster mode keeps the
    zero-eager-jobs contract)."""
    from .sizing import fold_partitions, scratch_budget

    spark = df.sparkSession
    if scratch_budget(spark) is None:
        return fold_partitions(spark, None)
    n_all, s_all, s_txt, s_chars = _text_probe(df, text_col)
    chars = n_all * s_chars // max(s_all, 1) if n_all else 0
    return fold_partitions(spark, chars)


def _text_band_preflight(df: DataFrame, text_col: str, num_perm: int,
                         bands: int, hash_fn: str, *, carry_sig: bool,
                         what: str, remedies: tuple[str, ...]) -> None:
    """Scratch-volume preflight for the text-side band shuffles
    (round-12 VERDICT: the embedding twins got this guard first) —
    model the deterministic exchanges from one probe agg (row count,
    non-null-text count, total text bytes) and raise the sizing
    module's actionable error BEFORE launching a shuffle the local
    scratch volume cannot hold.  Modeled: the pre-fold repartition
    (every row's text crosses once) and the one band-row exchange
    (n_docs x bands rows, each carrying the num_perm x 8 B signature
    when ``carry_sig``).  NOT modeled (data-dependent): the
    candidate-pair exchange, whose blowup ``max_bucket`` bounds — the
    remedies name it.  Callers only invoke this when the scratch
    budget is known (local mode), preserving the zero-eager-jobs
    laziness contract on clusters.

    Probe cost is sized for the guard's OWN target scale: ONE job in
    ONE pass over the (possibly derived, uncached) input computes the
    exact row count plus text statistics (null fraction, total
    bytes) on a ~2% row sample — the text expression sits under a
    ``when(sampled, ...)`` so unsampled rows never materialize it,
    and the sample flag is a projected ``rand()`` column Catalyst
    will not duplicate (nondeterministic), so flag and stats agree
    row-for-row.  At the 1-10 B-doc scale the band model protects, a
    full ``sum(length(text))`` pass would itself be an extra corpus
    read.  A sample landing under ``_PROBE_EXACT_FALLBACK_ROWS``
    (5000 — corpora under ~250k docs at the 2% fraction) falls back
    to the exact (cheap at that size) agg, so small and mid-size
    inputs stay deterministic and a heavy-tailed length distribution
    cannot hide rare giant documents from a thin sample (round-13
    ADVICE).  Like the embedding twin: callers composing over
    an expensive uncached upstream should ``persist()`` it first —
    the probe re-executes the upstream plan once."""
    from .sizing import check_shuffle_scratch

    n_all, s_all, s_txt, s_chars = _text_probe(df, text_col)
    if not n_all:
        return  # empty: no band shuffle will launch at all
    n_txt = n_all * s_txt // max(s_all, 1)
    chars = n_all * s_chars // max(s_all, 1)
    if not n_txt:
        return  # all-null text: no band shuffle will launch at all
    r = num_perm // bands
    bucket_bytes = 8 if hash_fn != "fnv1a32" else 11 * r
    band_row = ((8 * num_perm if carry_sig else 0) + bucket_bytes
                + 12 + _TEXT_ROW_OVERHEAD_BYTES)
    est = chars + n_all * _TEXT_ROW_OVERHEAD_BYTES  # pre-fold spread
    est += n_txt * bands * band_row
    check_shuffle_scratch(df.sparkSession, est, what=what,
                          remedies=remedies)


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_perm: int = 64,
                           bands: int = 16, shingle_k: int = 5,
                           seed: int = 17, hash_fn: str = "xxhash64",
                           max_bucket: int | None = None,
                           min_sig_matches: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, n_bands matched).

    Banding: signature split into ``bands`` rows of r = num_perm/bands;
    docs sharing any band bucket become candidates.  One lazy plan and
    one corpus pass, with no join: after the pre-fold spread, the band
    rows shuffle once on (band, bucket), a window count sizes each
    bucket, the surviving buckets collect into sorted member arrays,
    and the C(b, 2) combinations of a b-doc bucket explode narrowly
    from its array into the pair-key aggregate (n_bands = buckets
    shared), which is the one exchange after the band shuffle.  No
    Spark job runs before the caller's action (apart from the local
    scratch preflight's memoized probe), and nothing is cached: each
    action on the returned pairs re-runs the corpus pass, so
    checkpoint the pairs to consume them more than once.

    ``max_bucket`` drops band buckets holding more than that many
    documents BEFORE any member array materializes or any pair is
    emitted — the standard skew guard: a degenerate bucket of b docs
    emits C(b, 2) pairs (a 100k-doc bucket is 5 x 10^9 pairs in one
    key), and mega-buckets on a template-heavy corpus are boilerplate
    clusters exact dedup already catches; pairs that ALSO share a
    small (= discriminative) bucket survive.  With a cap, each member
    array holds at most ``max_bucket`` entries.  Uncapped (``None``),
    every bucket of two or more docs is kept and collected whole, so
    one mega-bucket is one b-entry array emitting C(b, 2) pairs —
    quadratic, as a band self-join would be.  Set ``max_bucket`` on
    any corpus that may contain one.

    ``min_sig_matches`` requires at least that many of the num_perm
    signature components to agree — the two-tier verification gate:
    component agreement is the unbiased MinHash estimate of shingle
    jaccard, costs one num_perm-long zip per pair (vs shipping full
    shingle sets to an exact verifier), and is exactly reproducible in
    SQL.  The signature then rides each band row (the
    write_signature_table trade: the band exchange carries bands x
    num_perm x 8 B per doc) so the gate runs inside the combination
    explode, before the pair-key exchange; the surviving pairs carry a
    ``sig_matches`` column.  Ungated, band rows carry only the id.

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> from dask_histogram_spark.operators import minhash_lsh_candidates
    >>> spark = get_spark("doctest", cpus=2)
    >>> docs = spark.createDataFrame(
    ...     [(1, "the quick brown fox jumps over the lazy dog"),
    ...      (2, "the quick brown fox jumps over the lazy dog"),
    ...      (3, "an entirely different document about spark")],
    ...     "doc_id long, text string")
    >>> cands = minhash_lsh_candidates(docs, num_perm=16, bands=4)
    >>> sorted((r.id_a, r.id_b, r.n_bands) for r in cands.collect())
    [(1, 2, 4)]
    """
    from pyspark.sql import Window

    from .sizing import scratch_budget

    gated = min_sig_matches is not None
    # Scratch preflight BEFORE any shuffle launches (the text twin of
    # embedding_near_dup_pairs' guard): at 1-10 B docs the band
    # exchange is multi-TB and a volume it cannot fit kills the job at
    # 97% disk mid-shuffle — fail fast with the levers instead.  Only
    # when the budget is KNOWN (local mode): on a cluster the plan
    # stays lazy with zero eager jobs.
    if scratch_budget(df.sparkSession) is not None:
        _text_band_preflight(
            df, text_col, num_perm, bands, hash_fn, carry_sig=gated,
            what=(f"minhash_lsh_candidates' band shuffle "
                  f"(num_perm={num_perm}, bands={bands})"),
            remedies=(
                "reduce bands= (fewer band rows per document at the "
                "same num_perm trades recall for exchange bytes — see "
                "auto_minhash_params)",
                "set max_bucket= (bounds the data-dependent "
                "candidate-pair exchange this estimate cannot see)",
                "build the persisted signature table instead "
                "(write_signature_table + dedup_incremental_lsh) so "
                "the corpus shuffles once at build time and only each "
                "probe batch shuffles per run",
            ))
    # Repartition BEFORE the signature fold: the corpus often arrives in
    # a handful of scan partitions (one parquet file = one partition at
    # small SF) and the fold is the expensive stage — without the spread
    # it runs on that handful of cores (measured 13.1 s vs 4.9 s at
    # sf0.1 for the stats twin).  At 100 TB input splits are already
    # parallel and this exchange (ids + text, once) is noise.  The
    # count is byte-derived from the (memoized) text probe, not a
    # fixed core multiple: 2 x cores over-splits a small corpus into
    # scheduling-floor tasks (round-15: the sf0.1 fold reads 1.0 s at
    # 64 parts vs 0.66 s at 8-32).
    nparts = _probed_fold_parts(df, text_col)
    sigs = minhash_signatures(df.repartition(nparts), text_col, id_col,
                              num_perm, shingle_k, seed, hash_fn)
    banded = _band_explode(sigs, id_col, num_perm, bands, hash_fn,
                           keep=("sig",) if gated else ())
    # The skew cap filters row-wise on a window count over the
    # (band, bucket) exchange, BEFORE the member arrays materialize,
    # so a capped array holds at most max_bucket entries even for a
    # pathological mega-bucket.  Explicit hash repartition ON the
    # grouping key: the window and the agg reuse this exchange, and
    # AQE never coalesces a user-specified repartition, so the
    # combination explode (up to C(b, 2) rows per bucket) runs at
    # nparts in the agg's own reduce stage.
    n = F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    keep_bucket = (F.col("__n") >= 2 if max_bucket is None
                   else F.col("__n").between(2, max_bucket))
    member = [F.col(id_col).alias("i")]
    if gated:
        member.append(F.col("sig").alias("s"))
    members = (
        banded.repartition(nparts, "band", "bucket")
        .withColumn("__n", n)
        .where(keep_bucket)
        .groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.struct(*member))).alias("__m"))
    )

    def pair(a, b):
        fields = [a["i"].alias("id_a"), b["i"].alias("id_b")]
        if gated:
            fields.append(_sig_agreement(a["s"], b["s"]).alias("sm"))
        return F.struct(*fields)

    combos = F.flatten(F.transform(
        F.sequence(F.lit(0), F.size("__m") - 2),
        lambda i: F.transform(
            F.slice(F.col("__m"), i + 2, F.size("__m")),
            lambda y: pair(F.col("__m")[i], y)),
    ))
    # strict <: a doc id occurring twice in the input would otherwise
    # emit an (x, x) self-pair.  The agreement gate is pair-constant,
    # so filtering per co-occurrence keeps exactly the pairs (and
    # n_bands counts) a gate after the pair aggregate would keep, and
    # only gate-passing co-occurrences cross the pair-key exchange.
    keep_pair = F.col("__p.id_a") < F.col("__p.id_b")
    aggs = [F.count(F.lit(1)).alias("n_bands")]
    if gated:
        keep_pair = keep_pair & (F.col("__p.sm") >= min_sig_matches)
        aggs.append(F.max("__p.sm").alias("sig_matches"))
    return (
        members.select(F.explode(combos).alias("__p"))
        .where(keep_pair)
        .groupBy(F.col("__p.id_a").alias("id_a"),
                 F.col("__p.id_b").alias("id_b"))
        .agg(*aggs)
    )


def release_candidates_cache(pairs: DataFrame) -> None:
    """Unpersist the shingle projection that
    :func:`jaccard_verify_pairs` (``persist=True``) caches and attaches
    to its result as ``_dhs_persisted`` (no-op if the result carries
    none or the handle was already released)."""
    cached = getattr(pairs, "_dhs_persisted", None)
    if cached is not None:
        cached.unpersist()
        pairs._dhs_persisted = None


def write_signature_table(df: DataFrame, table: str, text_col: str = "text",
                          id_col: str = "doc_id", num_perm: int = 64,
                          bands: int = 16, shingle_k: int = 5, seed: int = 17,
                          hash_fn: str = "xxhash64", method: str = "auto",
                          n_buckets: int = 64, max_bucket: int | None = None,
                          path: str | None = None) -> None:
    """Persist a corpus's banded MinHash projection as the cross-run
    "seen" table for :func:`dedup_incremental_lsh`: rows of
    (id, sig, band, bucket), written BUCKETED on (band, bucket) via
    :func:`~dask_histogram_spark.sources.write_bucketed`.

    This pre-pays the candidate join's seen-side shuffle once at write
    time — every nightly batch then equi-joins its band rows against
    the stored table with NO exchange on the (1000x bigger) seen side.
    The signature array is denormalized into each band row (bands x
    num_perm longs per doc) so the reader runs the component-agreement
    verify gate off the SAME join, without a second by-id signature
    lookup; at extreme num_perm you would normalize instead and accept
    the extra join.

    ``max_bucket`` applies the standard skew guard AT WRITE TIME: band
    buckets holding more than that many seen docs are dropped from the
    table (a mega-bucket of template boilerplate is a quadratic join
    bomb against every future batch, and its members are boilerplate
    clusters exact dedup already catches).  The cap's count runs in the
    same (band, bucket)-keyed shuffle the bucketed write needs anyway.
    What the cap dropped is RECORDED, not silent: the ``__params``
    sidecar carries (n_capped_buckets, max_bucket_size,
    n_dropped_rows) — NULL when uncapped — so a nightly operator
    whose misses are by design says so in data.

    The signature PARAMETERS (num_perm, bands, shingle_k, seed,
    hash_fn) are persisted alongside as ``<table>__params``:
    signatures from different parameters never match, so a reader
    probing with drifted parameters would silently report every doc as
    fresh — :func:`dedup_incremental_lsh` therefore loads the stored
    parameters by default when given the table NAME (the same
    footgun-closing pattern as ``build_ivf_index``'s centroid
    sidecar).
    """
    # Scratch preflight BEFORE the sidecar drop (the text twin of
    # write_embedding_signature_table's guard): the build exchanges
    # the pre-fold text spread plus n x bands band rows each carrying
    # the denormalized num_perm x 8 B signature — at 1-10 B docs a
    # multi-TB shuffle.  Refusing here leaves the existing (still
    # valid) table and its sidecar untouched.  Known budget only
    # (local mode): the cluster build stays lazy until the write.
    from .sizing import scratch_budget

    if scratch_budget(df.sparkSession) is not None:
        _text_band_preflight(
            df, text_col, num_perm, bands, hash_fn,
            carry_sig=True,
            what=(f"write_signature_table's build shuffles (pre-fold "
                  f"repartition + bucketing; num_perm={num_perm}, "
                  f"bands={bands})"),
            remedies=(
                "reduce bands= and/or num_perm= (band rows denormalize "
                "the full signature, so bytes scale with bands x "
                "num_perm — see auto_minhash_params for the recall "
                "trade)",
                "shard the corpus and build/probe per shard (each "
                "build shuffles only its shard)",
            ))
    # Loud-by-construction rebuild protocol: the params sidecar is
    # DROPPED before the data write and recreated after it.  A rebuild
    # killed anywhere in between leaves a table WITHOUT a sidecar, so
    # the name-based reader fails with a clear error instead of either
    # silent half: new params over old rows, or (sidecar-last alone)
    # old params over new rows — both of which would make every
    # nightly doc silently report as fresh.
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}__params")
    # spread the signature fold across the cluster before the expensive
    # stage (same rationale as minhash_lsh_candidates' pre-fold
    # repartition: the corpus often arrives in a handful of scan
    # partitions; byte-derived count, see _probed_fold_parts)
    nparts = _probed_fold_parts(df, text_col)
    sigs = minhash_signatures(df.repartition(nparts), text_col, id_col,
                              num_perm, shingle_k, seed, hash_fn, method)
    banded = _band_explode(sigs, id_col, num_perm, bands, hash_fn,
                           keep=("sig",))
    obs = None
    if max_bucket is not None:
        from pyspark.sql import Observation, Window

        # the cap silently drops mega-buckets by design — record HOW
        # MUCH it dropped in the sidecar (the minhash_lsh_stats
        # posture: a by-design miss should say so in data).  Free at
        # write time: an Observation on the window-annotated rows
        # BEFORE the cap filter collects the aggregates during the
        # write action itself — no persist, no second signature pass,
        # no extra shuffle.  Bucket COUNT without a distinct agg
        # (observe merges per-partition, distinct can't): each row of
        # an over-cap bucket of size n contributes 1/n, summing to
        # exactly 1 per capped bucket (fp error ~1e-16/bucket; the
        # round() is exact for any plausible count).
        w = Window.partitionBy("band", "bucket")
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

    write_bucketed(banded, table, ["band", "bucket"], n_buckets, path=path)
    cap_stats = (None, None, None)
    if obs is not None:
        m = obs.get
        cap_stats = (int(round(m["capped_f"] or 0.0)),
                     int(m["mx"] or 0), int(m["dropped"] or 0))
    # sidecar recreated only after the data write committed (see the
    # DROP above).  The formula tag additionally makes a table written
    # by a DIFFERENT permutation formula fail loudly at read time.
    # n_capped_buckets/max_bucket_size/n_dropped_rows document the
    # write-time skew cap's by-design misses (NULL when uncapped).
    pw = df.sparkSession.createDataFrame(
        [(_SIG_FORMULA, int(num_perm), int(bands), int(shingle_k),
          int(seed), str(hash_fn), *cap_stats)],
        "formula string, num_perm int, bands int, shingle_k int, "
        "seed int, hash_fn string, n_capped_buckets bigint, "
        "max_bucket_size bigint, n_dropped_rows bigint",
    ).write.mode("overwrite")
    if path is not None:
        # external like the main table: a managed location can survive
        # a killed session's metastore and block the next create
        pw = pw.option("path", f"{path}__params")
    pw.saveAsTable(f"{table}__params")
    # a rewritten sidecar must not serve a stale memoized row
    from .sizing import invalidate_params_memo

    invalidate_params_memo(df.sparkSession, table)


def load_signature_table(spark, table: str):
    """Open a :func:`write_signature_table` table by NAME with the
    loud safety checks every reader needs: an existing-but-empty
    ``__params`` sidecar (interrupted write) and a drifted permutation
    formula both raise with rebuild guidance, because either would
    otherwise make every probing document silently report as fresh.
    Returns ``(banded DataFrame, (num_perm, bands, shingle_k, seed,
    hash_fn))`` — shared by :func:`dedup_incremental_lsh` and the
    streaming probe (streaming/dedup.py)."""
    from .sizing import memoized_params_row

    def load():
        rows = spark.table(f"{table}__params").collect()
        if not rows:
            raise ValueError(
                f"signature table {table!r} has an EMPTY __params "
                "sidecar (an interrupted write left the table in an "
                "unusable state) — rebuild it with write_signature_table."
            )
        p = rows[0]
        stored = getattr(p, "formula", None)
        if stored != _SIG_FORMULA:
            raise ValueError(
                f"signature table {table!r} was written with "
                f"permutation formula {stored!r}; this reader computes "
                f"{_SIG_FORMULA!r} — signatures from different formulas "
                "never match (every doc would silently report as "
                "fresh).  Rebuild the table with write_signature_table."
            )
        return (p.num_perm, p.bands, p.shingle_k, p.seed, p.hash_fn)

    # params memoized per (session, table); the table DataFrame itself
    # is a lazy catalog lookup and stays fresh
    params = memoized_params_row(spark, table, load)
    return spark.table(table), params


def dedup_incremental_lsh(new_df: DataFrame, seen_banded, /,
                          text_col: str = "text", id_col: str = "doc_id",
                          num_perm: int = 64, bands: int = 16,
                          shingle_k: int = 5, seed: int = 17,
                          hash_fn: str = "xxhash64", method: str = "auto",
                          min_sig_matches: int | None = None) -> DataFrame:
    """Cross-run NEAR-dup gate: for every document of a new batch, how
    many documents of the persisted seen corpus it near-duplicates —
    the incremental companion of :func:`dedup_incremental` (which is
    exact-content only) for a continuously growing corpus.

    ``seen_banded`` is the table written by
    :func:`write_signature_table` — pass its NAME (the safe default:
    the stored ``__params`` sidecar then overrides
    num_perm/bands/shingle_k/seed/hash_fn, because signatures from
    DIFFERENT parameters never match and a drifted reader would
    silently report every doc as fresh) or a DataFrame (escape hatch
    for ad-hoc projections; the caller then owns parameter agreement).
    The candidate join keys on the table's bucketed (band, bucket)
    columns, so the seen side is read co-located with NO exchange:
    only the new batch's band rows shuffle (plan-asserted in
    tests/test_plans.py).  Candidates then pass the MinHash
    component-agreement gate (``min_sig_matches`` of ``num_perm`` —
    the same two-tier verify as :func:`minhash_lsh_candidates`), both
    signatures being already on the joined row.

    Returns one row per NEW document: (id, n_matched_seen) —
    0 = genuinely fresh content; filter on it for survivors, or join
    the matched pairs back for provenance.  NULL-text docs yield no
    signature and report 0 like any fresh doc.

    ``min_sig_matches`` defaults (None) to the theory-derived
    :func:`agreement_gate` for the J>=0.9 near-dup target at the
    effective num_perm — matching the embedding twin, which always
    verifies with exact cosine; raw single-band bucket collisions
    would otherwise sporadically flag genuinely-fresh docs on a large
    seen corpus.  Pass ``0`` explicitly to count ungated bucket
    collisions.
    """
    if isinstance(seen_banded, str):
        seen_banded, (num_perm, bands, shingle_k, seed, hash_fn) = (
            load_signature_table(new_df.sparkSession, seen_banded))
    # Batch-side scratch preflight (the seen side is bucketed and never
    # exchanges, but a "nightly batch" can itself be huge): the batch's
    # band rows carry the denormalized signature for the agreement
    # gate — the same shape as the writer's build shuffle.  Known
    # budget only; lazy on clusters.
    from .sizing import scratch_budget

    if scratch_budget(new_df.sparkSession) is not None:
        _text_band_preflight(
            new_df, text_col, num_perm, bands, hash_fn,
            carry_sig=True,
            what=(f"dedup_incremental_lsh's batch band shuffle "
                  f"(num_perm={num_perm}, bands={bands})"),
            remedies=(
                "shard the probe batch and run the incremental gate "
                "per shard (each run shuffles only its shard; the "
                "seen table is read co-located either way)",
            ))
    nparts = _probed_fold_parts(new_df, text_col)
    sigs = minhash_signatures(new_df.repartition(nparts), text_col, id_col,
                              num_perm, shingle_k, seed, hash_fn, method)
    banded_new = _band_explode(sigs, id_col, num_perm, bands, hash_fn,
                               keep=("sig",)).select(
        F.col(id_col).alias("__new_id"), F.col("sig").alias("__new_sig"),
        "band", "bucket")
    seen = seen_banded.select(
        F.col(id_col).alias("__seen_id"), F.col("sig").alias("__seen_sig"),
        "band", "bucket")
    if min_sig_matches is None:
        min_sig_matches = agreement_gate(num_perm, jaccard=0.9)
    # sig_matches is PAIR-constant across a pair's band rows (both
    # full signatures ride every row), so gating each band row and
    # counting DISTINCT seen ids equals the former two-step
    # group-by-pair-then-count — and the distinct aggregate needs ONE
    # exchange where the pair aggregate + count needed two (round-15,
    # guide §2.4: the candidate pair set used to cross the wire
    # twice per probe batch).
    cands = (
        banded_new.join(seen, ["band", "bucket"])
        .select("__new_id", "__seen_id",
                _sig_agreement("__new_sig", "__seen_sig")
                .alias("sig_matches"))
    )
    if min_sig_matches > 0:
        cands = cands.where(F.col("sig_matches") >= min_sig_matches)
    counts = cands.groupBy("__new_id").agg(
        F.countDistinct("__seen_id").alias("n_matched_seen"))
    return (
        new_df.select(id_col)
        .join(counts, F.col(id_col) == F.col("__new_id"), "left")
        .select(
            id_col,
            F.coalesce(F.col("n_matched_seen"), F.lit(0).cast("long"))
            .alias("n_matched_seen"),
        )
    )


def minhash_lsh_stats(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_perm: int = 64,
                      bands: int = 16, shingle_k: int = 5, seed: int = 17,
                      hash_fn: str = "xxhash64",
                      max_bucket: int = 64) -> DataFrame:
    """One-row LSH candidate-volume profile WITHOUT the uncapped
    self-join — the skew-proof way to measure an LSH configuration.

    A materialized band self-join puts sum-over-buckets-of C(n_b, 2)
    generated pairs on the cluster, and every pair of one bucket lands
    in ONE task (the join key is the bucket) — a single mega-bucket of
    b docs is C(b, 2) rows in one task, quadratic in the corpus's
    template density.  This operator splits the two quantities the
    profile actually needs:

    - ``sum_bands`` — total (pair, band) bucket co-occurrences — is
      pure per-bucket arithmetic: Σ C(n_b, 2) over the bucket-size
      distribution.  No join at all, exact for ANY skew, and the
      bucket-size aggregation is the same partial-agg shuffle shape as
      a histogram fill (≤ one row per bucket).
    - ``n_pairs_capped`` — DISTINCT candidate pairs — is the only
      quantity that genuinely needs the self-join.  It runs under the
      ``max_bucket`` production skew guard (the same cap
      :func:`minhash_lsh_candidates` exposes), so per-bucket blowup is
      bounded by C(max_bucket, 2) and stays parallel.
    - the capped-away mass is REPORTED, not silently dropped:
      ``n_capped_buckets`` and ``max_bucket_size`` quantify what the
      cap excluded (mega-buckets on a template-heavy corpus are
      boilerplate clusters exact dedup already catches).

    Returns one row: (n_pairs_capped, sum_bands, n_buckets,
    max_bucket_size, n_capped_buckets).

    Physical shape: one lazy plan and one collect, the histogram
    fill's partial-agg-then-reduce shape.  ONE shuffle of the banded
    projection (8-byte bucket keys) groups per-bucket id lists; each
    bucket row then emits its capped pairs (codegen'd
    ``posexplode``/``explode`` generators, empty for capped buckets)
    plus one null-keyed marker row carrying the bucket size.  The
    distinct-pair aggregate keyed on (id_a, id_b) also folds the
    bucket statistics over the markers, whose (null, null) group is
    the only one where they are non-null (partial aggregation
    collapses it map-side, so it is no skew); a global agg counts the
    non-null pairs and lifts the statistics.  The signature fold, the
    band exchange and the bucket aggregation therefore run once with
    no checkpoint, no second branch and no cross join, and the
    operator leaves no cached blocks behind.  (``DataFrame.observe``
    is not a substitute for the folded statistics: on PySpark 4.1 the
    observed metrics are lost when the branch after the observe point
    is empty — empty input, all-NULL text, every bucket capped.)
    """
    nparts = _probed_fold_parts(df, text_col)
    sigs = minhash_signatures(df.repartition(nparts), text_col, id_col,
                              num_perm, shingle_k, seed, hash_fn)
    banded = _band_explode(sigs, id_col, num_perm, bands, hash_fn)
    buckets = (
        banded.repartition(nparts, "band", "bucket")
        .groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("__ids"))
    )
    # position i of a bucket pairs with positions i+1.. (slice is
    # 1-based); the trailing null element is the bucket's marker row
    pairs = (
        buckets.select("__ids", F.expr(
            f"posexplode(concat(if(size(__ids) <= {int(max_bucket)}, "
            "__ids, array()), array(null)))").alias("__i", "__a"))
        .select(
            "__a",
            F.when(F.col("__a").isNull(), F.size("__ids").cast("long"))
            .alias("__n"),
            F.expr("explode(if(__a IS NULL, array(null), "
                   "slice(__ids, __i + 2, size(__ids))))").alias("__b"))
        .where(F.col("__a").isNull() | (F.col("__a") != F.col("__b")))
    )
    n = F.col("__n")
    row = (
        pairs.groupBy(F.least("__a", "__b").alias("id_a"),
                      F.greatest("__a", "__b").alias("id_b"))
        .agg(F.sum(n * (n - 1)).alias("__s"), F.count(n).alias("__c"),
             F.max(n).alias("__m"),
             F.sum((n > max_bucket).cast("long")).alias("__k"))
        .agg(
            F.count("id_a").alias("n_pairs_capped"),
            (F.max("__s") / 2).cast("long").alias("sum_bands"),
            F.coalesce(F.max("__c"), F.lit(0).cast("long"))
            .alias("n_buckets"),
            F.max("__m").alias("max_bucket_size"),
            F.max("__k").alias("n_capped_buckets"),
        )
        .collect()[0]
    )
    return local_relation(
        df.sparkSession, [row],
        ("n_pairs_capped long, sum_bands long, n_buckets long, "
         "max_bucket_size long, n_capped_buckets long"))


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join (SQL-expressible -> oracle-checkable)
# ---------------------------------------------------------------------------

# How many distinct shingles (index entries) the broadcast-bincount
# strategy will hold per executor before "auto" falls back to the
# distributed inverted-index join: 20M entries ~ 300 MB broadcast.
# Above this much corpus text, jaccard_verify_pairs' "auto" persist
# materializes the shingle cache eagerly (see the eager_persist
# comment): the lazy form's bounded 2x race on the shingle UDF beats
# the serial barrier only while the whole UDF pass is a few
# task-seconds (sf0.1's ~4 MB: lazy −1.6 s/cycle; 1M-doc ~180 MB:
# eager +3 s/cycle — round-15 A/Bs).
_LAZY_VERIFY_MAX_CHARS = 32_000_000

_BINCOUNT_MAX_NNZ = 20_000_000


def _jaccard_index_join(df: DataFrame, shingles: Column, id_col: str,
                        threshold: float, max_df: float | None,
                        persist: bool) -> DataFrame:
    """Distributed inverted-index similarity join (see callers).

    Shingles are hashed to 64-bit longs JVM-side before the explode so
    every downstream shuffle/join key is 8 bytes (collision odds
    ~n_shingles^2/2^64 — negligible).  The explosive self-join is
    explicitly repartitioned on the shingle: its shuffle INPUT is tiny
    (n_docs x n_shingles ids) so AQE would coalesce it to ~1 task, but
    its OUTPUT is sum_sh df(sh)^2 rows — the explicit partition count
    keeps the blowup parallel.
    """
    hs = F.transform(shingles, lambda s: F.xxhash64(s))
    h = df.select(F.col(id_col), hs.alias("hs"))
    if max_df is not None:
        # Stopword cut: drop shingles present in > max_df of documents.
        # This is THE skew fix for the inverted-index join — a shingle in
        # 50% of a 10^9-doc corpus otherwise creates a 2.5*10^17-row join
        # bucket.  Changes semantics (Jaccard over the pruned shingle
        # sets), hence opt-in.  The hot set is at most 1/max_df shingles
        # BY DEFINITION, so collecting it to the driver and folding it
        # into the scan as an array_except literal is always safe — and
        # removes the per-doc window recount a join-based cut would need.
        n_docs = df.count()
        hot = [
            r[0]
            for r in h.select(F.explode("hs").alias("sh"))
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_count"))
            .where(F.col("df_count") > max_df * n_docs)
            .collect()
        ]
        if hot:
            h = h.select(
                F.col(id_col),
                F.array_except("hs", F.array(*[F.lit(x) for x in hot])).alias("hs"),
            )
    ex = h.select(
        F.col(id_col), F.size("hs").alias("n_sh"), F.explode("hs").alias("sh")
    )
    nparts = max(df.sparkSession.sparkContext.defaultParallelism * 2, 16)
    ex = ex.repartition(nparts, "sh")
    if persist:
        from pyspark import StorageLevel

        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _fnv1a64_shingles_np(s: str, k: int) -> np.ndarray:
    """64-bit sibling of :func:`_fnv1a32_shingles_np` (offset/prime from
    the published FNV-1a 64-bit spec, wrap multiply on uint64) — used
    where 32 bits would birthday-collide over a corpus-wide shingle
    universe (~260 expected collisions at 1.5M shingles) but the hash
    stays strategy-internal, so no SQL twin is needed."""
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    offset = np.uint64(14695981039346656037)
    prime = np.uint64(1099511628211)
    if len(cp) >= k:
        W = np.lib.stride_tricks.sliding_window_view(cp, k)
        h = np.full(W.shape[0], offset, dtype=np.uint64)
        for j in range(k):
            h = (h ^ W[:, j]) * prime
        return h.view(np.int64)
    if len(cp) == 0:
        cp = np.zeros(1, dtype=np.uint64)
    h = offset
    with np.errstate(over="ignore"):  # uint64 wrap is the hash
        for c in cp:
            h = (h ^ c) * prime
    return np.array([h], dtype=np.uint64).view(np.int64)


def _jaccard_bincount(df: DataFrame, shingles: Column, id_col: str,
                      threshold: float, max_df: float | None,
                      char_kgram: tuple[str, int] | None = None) -> DataFrame:
    """Broadcast-inverted-index similarity join for DENSE corpora.

    When the shingle vocabulary is small relative to the corpus (every
    shingle appears in many documents), the equi-join materializes
    sum_sh df(sh)^2 rows and the per-pair count aggregate dominates —
    at sf0.1 that is 221M rows into a 12M-group hash agg for a 13k-word
    vocabulary.  Here the whole inverted index (a few MB — gated by
    ``_BINCOUNT_MAX_NNZ``) is built driver-side from one Arrow collect
    and broadcast; each task then computes, per document, the common
    counts against ALL documents with one vectorized gather+bincount.
    Same semantics as the join (verified value-equal at sf0.1), ~10x
    faster at high density, zero shuffle.
    """
    spark = df.sparkSession
    out_schema = T.StructType([
        T.StructField("id_a", df.schema[id_col].dataType),
        T.StructField("id_b", df.schema[id_col].dataType),
        T.StructField("jaccard", T.DoubleType()),
    ])
    if char_kgram is not None:
        # Char-k-gram fast path: ship the raw text once (smaller than
        # the hash arrays) and shingle+hash in one vectorized numpy
        # kernel — the Column transform/xxhash64 pipeline is an
        # interpreted HOF that dominated this strategy's wall
        # (measured 1.9 s vs 0.2 s for 5k docs / 1.5M shingles).
        text_col, k = char_kgram
        tt = df.select(F.col(id_col), F.col(text_col)).toArrow()
        if tt.num_rows == 0:
            return local_relation(spark, [], out_schema)
        ids = tt.column(id_col).to_numpy(zero_copy_only=False)
        # NULL text -> zero shingles (the doc can never pair), matching
        # the Column hash path where transform(null) yields a null
        # array and the index join where explode(null) emits no rows.
        # Batch kernel + per-doc segment unique (downstream np.unique
        # over allh re-sorts globally, so only per-doc dedup matters).
        tlist = tt.column(text_col).to_pylist()
        Hf, flens = _fnv_shingles_flat(
            [t if t is not None else "" for t in tlist], k, 64)
        foffs = np.zeros(len(flens), dtype=np.int64)
        np.cumsum(flens[:-1], out=foffs[1:])
        per_doc = [np.unique(Hf[o:o + ln]) if t is not None
                   else np.zeros(0, dtype=np.int64)
                   for t, o, ln in zip(tlist, foffs, flens)]
        lens0 = np.fromiter((len(h) for h in per_doc), dtype=np.int64,
                            count=len(per_doc))
        allh = (np.concatenate(per_doc) if per_doc
                else np.zeros(0, dtype=np.int64))
    else:
        hs = F.transform(shingles, lambda s: F.xxhash64(s))
        # Arrow collect: the list column arrives as one offsets+values
        # buffer, so the flat hash array and per-doc lengths are O(1)
        # views — no per-row object conversion.
        tbl = (df.select(F.col(id_col), hs.alias("hs"))
               .toArrow().combine_chunks())
        if tbl.num_rows == 0:
            return local_relation(spark, [], out_schema)
        ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
        hs_arr = tbl.column("hs").chunk(0)
        offsets = hs_arr.offsets.to_numpy(
            zero_copy_only=False).astype(np.int64)
        lens0 = np.diff(offsets)
        allh = hs_arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    vocab, inv = np.unique(allh, return_inverse=True)
    if max_df is not None:
        keep_v = np.bincount(inv, minlength=len(vocab)) <= max_df * len(ids)
    else:
        keep_v = np.ones(len(vocab), dtype=bool)
    keep_e = keep_v[inv] if len(allh) else np.zeros(0, dtype=bool)
    doc_of = np.repeat(np.arange(len(ids)), lens0)[keep_e]
    col_of = inv[keep_e]
    n_sh = np.bincount(doc_of, minlength=len(ids)).astype(np.int64)
    # postings concatenated by shingle column (the inverted index)
    postings = doc_of[np.argsort(col_of, kind="stable")].astype(np.int32)
    plen = np.bincount(col_of, minlength=len(vocab)).astype(np.int64)
    pstart = np.zeros(len(vocab) + 1, dtype=np.int64)
    np.cumsum(plen, out=pstart[1:])
    # per-document shingle columns (CSR over docs)
    dcols = col_of[np.argsort(doc_of, kind="stable")]
    dstart = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_sh, out=dstart[1:])

    bc = spark.sparkContext.broadcast(
        (ids, n_sh, postings, pstart, plen, dcols, dstart)
    )

    def block_pairs(batches):
        ids_g, nsh_g, post_g, pstart_g, plen_g, dcols_g, dstart_g = bc.value
        pos = {i: p for p, i in enumerate(ids_g.tolist())}
        nd = len(ids_g)
        for b in batches:
            out_a, out_b, out_j = [], [], []
            for x in b[id_col]:
                a = pos[x]
                cols = dcols_g[dstart_g[a]:dstart_g[a + 1]]
                ln = plen_g[cols]
                tot = int(ln.sum())
                if tot == 0:
                    continue
                # expand [pstart[c], pstart[c]+len[c]) ranges, vectorized
                idx = (
                    np.repeat(pstart_g[cols] - (np.cumsum(ln) - ln), ln)
                    + np.arange(tot, dtype=np.int64)
                )
                common = np.bincount(post_g[idx], minlength=nd)
                cand = np.nonzero(common)[0]
                cand = cand[ids_g[cand] > ids_g[a]]
                if cand.size == 0:
                    continue
                c = common[cand].astype(np.float64)
                jac = c / (nsh_g[a] + nsh_g[cand] - c)
                m = jac >= threshold
                if m.any():
                    out_a.append(np.full(int(m.sum()), ids_g[a]))
                    out_b.append(ids_g[cand[m]])
                    out_j.append(np.round(jac[m], 6))
            if out_a:
                yield pd.DataFrame({
                    "id_a": np.concatenate(out_a),
                    "id_b": np.concatenate(out_b),
                    "jaccard": np.concatenate(out_j),
                })

    nparts = spark.sparkContext.defaultParallelism
    return (
        df.select(id_col)
        .repartition(nparts)
        .mapInPandas(block_pairs, out_schema)
    )


def _jaccard_pairs_impl(df: DataFrame, shingles: Column, id_col: str,
                        threshold: float, strategy: str,
                        max_df: float | None, persist: bool,
                        nnz_bound: Column | None = None,
                        char_kgram: tuple[str, int] | None = None) -> DataFrame:
    if strategy == "auto":
        # Size gate for the broadcast path.  nnz_bound is a per-row UPPER
        # bound on the shingle count that avoids materializing the
        # shingle arrays just to size them (e.g. length(text) for char
        # k-grams); an upper bound can only push auto toward the
        # conservative distributed join.  Pure sizing statistic over
        # the input plan -> memoized like every other guard probe
        # (round-13 #4): repeated invocations pay the gate job once.
        from .sizing import memoized_probe

        est = nnz_bound if nnz_bound is not None else F.size(shingles)
        nnz = memoized_probe(
            df, ("jaccard_nnz", str(est)),
            lambda: df.select(F.sum(est)).first()[0] or 0)
        strategy = "bincount" if nnz <= _BINCOUNT_MAX_NNZ else "index"
    if strategy == "bincount":
        return _jaccard_bincount(df, shingles, id_col, threshold, max_df,
                                 char_kgram=char_kgram)
    if strategy == "index":
        return _jaccard_index_join(df, shingles, id_col, threshold, max_df,
                                   persist)
    raise ValueError(f"unknown jaccard strategy: {strategy!r}")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        threshold: float = 0.8,
                        persist: bool = False,
                        max_df: float | None = None,
                        strategy: str = "auto") -> DataFrame:
    """Exact Jaccard similarity join over distinct character k-grams.

    Output: (id_a, id_b, jaccard) with jaccard >= threshold, id_a <
    id_b, where jaccard = common / (|A| + |B| - common) over the
    distinct-shingle sets.

    Two physical strategies with identical semantics:

    * ``"index"`` — distributed inverted-index self-join (explode
      distinct shingles, equi-join on the shingle, count per pair).
      Fully shuffle-based, scales with the cluster; the join blowup is
      sum_sh df(sh)^2 rows, so frequency-skewed shingles are the
      hazard — pass ``max_df`` to cut shingles present in > that
      fraction of documents (the standard stopword escalation; changes
      semantics to Jaccard over the pruned shingle universe, with
      per-doc sizes recounted post-cut).
    * ``"bincount"`` — broadcast the whole inverted index and compute
      per-document common counts with vectorized numpy gather+bincount
      (see :func:`_jaccard_bincount`).  Wins when the corpus is DENSE
      (small vocabulary, high per-shingle document frequency) — the
      regime where the equi-join intermediates explode quadratically.

    ``"auto"`` (default) picks bincount iff the index has <=
    ``_BINCOUNT_MAX_NNZ`` entries (one cheap pre-scan), else the
    distributed join.  At 100 TB neither exact strategy is the tool —
    use :func:`minhash_lsh_candidates`; this operator is the exact,
    oracle-checkable configuration.

    ``persist`` (index strategy only) materializes the exploded index
    so the self-join does not recompute both sides; measured slower at
    small SF (cache round-trip > recompute), kept for expensive
    upstream pipelines.

    Examples
    --------
    >>> from dask_histogram_spark.session import get_spark
    >>> from dask_histogram_spark.operators import ngram_jaccard_pairs
    >>> spark = get_spark("doctest", cpus=2)
    >>> docs = spark.createDataFrame(
    ...     [(1, "the quick brown fox jumps"),
    ...      (2, "the quick brown fox jumps"),
    ...      (3, "zzzzzzzzzzzzzzzzzzzzzzzzz")],
    ...     "doc_id long, text string")
    >>> pairs = ngram_jaccard_pairs(docs, k=8, threshold=0.5)
    >>> sorted((r.id_a, r.id_b, r.jaccard) for r in pairs.collect())
    [(1, 2, 1.0)]
    """
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))),
            lambda i: F.substring(F.col(text_col), i, k),
        )
    )
    # NULL text is excluded up front: without this, the null shingle
    # hashes to xxhash64's constant seed value and every null doc
    # would pair with every other null doc
    df = df.where(F.col(text_col).isNotNull())
    return _jaccard_pairs_impl(df, shingles, id_col, threshold, strategy,
                               max_df, persist,
                               nnz_bound=F.length(F.col(text_col)),
                               char_kgram=(text_col, k))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_bits(hash_fn: str) -> int:
    if hash_fn == "xxhash64":
        return 64
    if hash_fn == "fnv1a32":
        return 32
    raise ValueError(f"unknown simhash hash_fn: {hash_fn!r}")


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash per document over whitespace tokens (64-bit with the
    default xxhash64; 32-bit with the SQL-portable fnv1a32 — the
    oracle-checkable configuration, see text.py).

    Token hashing stays JVM-side; the signature fold (sum of ±1 per
    bit, weighted by token frequency, then sign) is numpy over Arrow
    batches — the documented slow path, vectorized.
    """
    nbits = _simhash_bits(hash_fn)
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    if hash_fn == "fnv1a32":
        # 32-bit signatures stay inside signed-long range at every step,
        # so the whole fold runs as Column HOFs (one aggregate pass:
        # per-bit vote counts, finish = majority sign -> integer) — no
        # Python at all.  The 64-bit default keeps the Arrow fold below
        # (bit 63 can't be rebuilt under ANSI signed arithmetic).
        from .text import _fnv1a32

        th = F.transform(tokens, _fnv1a32)
        n = F.size(tokens).cast("long")
        bit_idx = F.sequence(F.lit(0), F.lit(nbits - 1))
        sig = F.aggregate(
            th,
            F.array_repeat(F.lit(0).cast("long"), nbits),
            lambda acc, h: F.zip_with(
                acc, bit_idx, lambda cur, b: cur + F.getbit(h, b)
            ),
            lambda votes: F.aggregate(
                F.zip_with(
                    votes, bit_idx,
                    lambda v, b: F.when(
                        v * 2 >= n, F.pow(F.lit(2.0), b).cast("long")
                    ).otherwise(F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )
        return df.select(F.col(id_col), sig.alias("simhash"))

    th = F.transform(tokens, lambda t: F.xxhash64(t))
    hashed = df.select(F.col(id_col), th.alias("th"))

    @F.pandas_udf(T.LongType())
    def fold(th: pd.Series) -> pd.Series:
        out = []
        for arr in th:
            if arr is None:
                # NULL text -> NULL signature, matching the fnv1a32
                # Column path's null propagation
                out.append(None)
                continue
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            if h.size == 0:
                out.append(0)
                continue
            bits = ((h[:, None] >> np.arange(nbits, dtype=np.uint64)) & 1).astype(np.int64)
            v = np.where(bits.sum(axis=0) * 2 >= h.size, 1, 0).astype(np.uint64)
            out.append(int((v << np.arange(nbits, dtype=np.uint64))
                           .sum().astype(np.int64)))
        return pd.Series(pd.array(out, dtype="Int64"))

    return hashed.select(F.col(id_col), fold(F.col("th")).alias("simhash"))


def simhash_banded(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", max_hamming: int = 3,
                   hash_fn: str = "xxhash64",
                   persist: bool = False) -> DataFrame:
    """(id, simhash, chunk, cv) pigeonhole-chunk membership — the shared
    projection behind the batch self-join (:func:`simhash_candidates`)
    and the streaming stateful detector (streaming/dedup.py), exactly
    like :func:`minhash_banded` for MinHash."""
    nbits = _simhash_bits(hash_fn)
    n_chunks = max_hamming + 1
    if nbits % n_chunks:
        raise ValueError(
            f"signature width {nbits} not divisible into {n_chunks} chunks")
    cbits = nbits // n_chunks

    def chunk_val(c: int) -> Column:
        if cbits >= 64:  # single full-width chunk: the signature itself
            return F.col("simhash")
        return (F.shiftrightunsigned(F.col("simhash"), c * cbits)
                .bitwiseAND(F.lit((1 << cbits) - 1)))

    sigs = simhash_signatures(df, text_col, id_col, hash_fn)
    if persist:
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    return sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("chunk"), chunk_val(c).alias("cv"))
                for c in range(n_chunks)
            ])
        ).alias("cc"),
    ).select(id_col, "simhash", "cc.chunk", "cc.cv")


def simhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       persist: bool = False,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup candidate pairs by SimHash banding.

    Pigeonhole: signatures within Hamming distance d share at least one
    of d+1 equal-width chunks, so the join is an equi-join on
    (chunk_idx, chunk_value); the exact Hamming distance then filters.

    ``persist`` materializes the (id, simhash) set once so the Arrow
    pandas_udf fold does not run on both join sides (8 bytes/doc);
    off by default (the cache costs a materialization pass of its
    own) but worth flipping when the UDF dominates (long docs).
    """
    chunks = simhash_banded(df, text_col, id_col, max_hamming,
                            hash_fn=hash_fn, persist=persist)
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.cv") == F.col("b.cv"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def word_ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", n: int = 3,
                             threshold: float = 0.8,
                             max_df: float | None = None,
                             strategy: str = "auto") -> DataFrame:
    """Word-level n-gram Jaccard similarity join (the token-shingle
    variant of :func:`ngram_jaccard_pairs`; robust to whitespace noise,
    coarser than character shingles).  Same strategies and semantics —
    see :func:`ngram_jaccard_pairs`."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    # NULL text excluded (see ngram_jaccard_pairs)
    df = df.where(F.col(text_col).isNotNull())
    return _jaccard_pairs_impl(df, grams, id_col, threshold, strategy,
                               max_df, persist=False,
                               nnz_bound=F.size(toks))


# ---------------------------------------------------------------------------
# Candidate-pair verification (exact Jaccard on the pruned pair set)
# ---------------------------------------------------------------------------

def jaccard_verify_pairs(pairs: DataFrame, docs: DataFrame,
                         text_col: str = "text", id_col: str = "doc_id",
                         k: int = 8, threshold: float = 0.5,
                         pair_a: str = "id_a",
                         pair_b: str = "id_b",
                         hashed: bool = True,
                         persist: bool = False,
                         method: str = "auto",
                         broadcast_pairs: bool = False,
                         eager_persist: bool | str = "auto") -> DataFrame:
    """Exact character-k-gram Jaccard computed ONLY on candidate pairs —
    the verification step between LSH candidate generation and
    clustering (candidates -> verify -> :func:`dedup_clusters`).

    Scale shape: the all-pairs problem is already pruned to the
    candidate set, so the exact computation is linear in it.  Shingle
    sets are built once per INVOLVED document (left-semi join bounds
    the shingling to ids appearing in any pair), then each pair picks
    up its two sets via 8-byte-id equi-joins and scores with one
    ``array_intersect`` — per-pair cost O(|A| + |B|), no explode, no
    inverted-index blowup (the candidate set is assumed pruned; the
    full-corpus similarity join lives in :func:`ngram_jaccard_pairs`).

    ``hashed`` (default) intersects 8-byte longs instead of raw
    k-char strings: each doc's shingle set is duplicated and SHUFFLED
    once per pair it appears in, so the join payload is 8 bytes per
    shingle instead of ~2k+ per string — same intersection counts up
    to 64-bit collisions (~|A|*|B|/2^64 per pair, negligible), ~8x
    less shuffle on the pair join.  Pass ``hashed=False`` for the
    bit-exact raw-string configuration.

    ``method`` (hashed only): ``"arrow"`` (the ``"auto"`` default)
    shingles + hashes each involved doc in the vectorized FNV-64 numpy
    kernel (:func:`_fnv1a64_shingles_np`) instead of the interpreted
    substring/xxhash64 Column chain — the hash is join-internal, so
    only collision behavior could differ (same negligible bound).
    ``"column"`` keeps the pure-Column reference path.

    ``persist`` caches the per-document shingle projection so the two
    pair-side joins don't shingle the corpus twice; the cache stays
    until released, and its handle travels on the result as
    ``_dhs_persisted`` — call :func:`release_candidates_cache` on the
    result once it is materialized.  NOTE: the ``pairs`` plan is
    consumed three times here (two involved-id scans + the pair join)
    — checkpoint/persist it first if it is expensive (a
    :func:`minhash_lsh_candidates` result re-runs its corpus pass per
    consumer).

    ``broadcast_pairs`` hints the pair set (and its distinct involved
    ids) as the broadcast side of every join here.  A checkpointed
    pair set is a stats-less LogicalRDD, so without the hint the
    planner falls back to sort-merge and SHUFFLES the per-doc shingle
    arrays — the heavy side — twice (round-15 plan audit: 2 exchanges
    of the array projection + 2 SMJ sorts at sf0.1).  Candidates out
    of a capped LSH are pair-id rows bounded far below the corpus
    (<= C(max_bucket, 2) per bucket), exactly the "decide with small
    rows, move big rows once" broadcast case; leave False only when
    the candidate set can rival the corpus in size.

    Output: (pair_a, pair_b, jaccard) for pairs with jaccard >=
    ``threshold`` over distinct-shingle sets — same definition as
    :func:`ngram_jaccard_pairs`, so the two gates agree.
    """
    if method == "auto":
        method = "arrow" if hashed else "column"
    if hashed and method == "arrow":
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def sh_arrow(texts: pd.Series) -> pd.Series:
            # batch kernel (one encode + k passes) instead of a
            # per-doc hash loop; None stays None (a "" placeholder
            # costs one dead hash and keeps the indexing flat)
            tl = texts.tolist()
            if not tl:
                return pd.Series([], dtype=object)
            H, lens = _fnv_shingles_flat(
                [t if t is not None else "" for t in tl], k, 64)
            offs = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            return pd.Series(
                [np.unique(H[o:o + ln]) if t is not None else None
                 for t, o, ln in zip(tl, offs, lens)])

        sh = sh_arrow(F.col(text_col))
    elif method == "column":
        sh = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1)),
                ),
                lambda i: F.substring(F.col(text_col), i, k),
            )
        )
        if hashed:
            sh = F.transform(sh, lambda s: F.xxhash64(s))
    else:
        raise ValueError(
            f"unknown verify method: {method!r} (arrow requires hashed)")
    # one scan of the (often checkpointed) pair set instead of a
    # two-scan union: explode([a, b]) emits the same id multiset, the
    # distinct is unchanged, and the involved-id pass costs one map
    # stage instead of two (round-16, guide §2.4)
    needed = (
        pairs.select(F.explode(F.array(pair_a, pair_b)).alias(id_col))
        .distinct()
    )
    if broadcast_pairs:
        needed = F.broadcast(needed)
    # Spread the involved docs BEFORE the shingle projection: the
    # corpus often arrives in a handful of scan/cache partitions (one
    # parquet file = one partition at small SF), and the shingle UDF
    # plus both downstream pair joins would inherit that width — the
    # same starvation the signature fold's pre-fold repartition fixes
    # (round-15: the sf0.1 shingle pass ran on 2 cores, 2.8 s vs 0.6 s
    # spread).  Byte-derived width, so a 100 TB corpus (already
    # parallel) pays one proportional exchange of the involved texts.
    nparts = _probed_fold_parts(docs, text_col)
    shingled = (
        docs.join(needed, id_col, "left_semi")
        .repartition(nparts)
        .select(F.col(id_col), sh.alias("__sh"))
    )
    if persist:
        from pyspark import StorageLevel

        shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
        # eager=True materializes the cache NOW so both pair-side
        # joins read it — the safe posture when recomputing the
        # shingle UDF is expensive.  eager=False skips the serial
        # materialization barrier and lets the FIRST action fill the
        # cache: the two join sides' map stages may then race-compute
        # some partitions (bounded at 2x the projection).  Which wins
        # is a pure function of the UDF pass's size, so "auto"
        # (default) decides from the memoized corpus text probe:
        # measured at sf0.1 (~4 MB text) lazy saves 1.6 s/pipeline
        # cycle, while at 1M synthetic docs (~180 MB) eager wins by
        # ~3 s (the race recompute outgrows the barrier).  Probe-less
        # sessions (cluster mode, zero-eager-jobs contract) stay
        # eager — the safe default at real scale.
        if eager_persist == "auto":
            from .sizing import scratch_budget

            eager = True
            if scratch_budget(docs.sparkSession) is not None:
                n_all, s_all, _s_txt, s_chars = _text_probe(docs, text_col)
                chars = n_all * s_chars // max(s_all, 1) if n_all else 0
                eager = chars > _LAZY_VERIFY_MAX_CHARS
        else:
            eager = bool(eager_persist)
        if eager:
            shingled.count()
    a = shingled.select(F.col(id_col).alias(pair_a),
                        F.col("__sh").alias("__sha"))
    b = shingled.select(F.col(id_col).alias(pair_b),
                        F.col("__sh").alias("__shb"))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    jac = inter / (F.size("__sha") + F.size("__shb") - inter)
    # broadcast_pairs: the first join builds its hash relation from
    # the tiny pair set, so the a-side shingle arrays are probed in
    # place (no exchange, no sort).  The second join's left side
    # already carries __sha (too big to broadcast — it would collect
    # every involved array to the driver), so it stays planner-chosen;
    # its exchange is the one place the arrays legitimately move.
    joined = (F.broadcast(pairs) if broadcast_pairs else pairs) \
        .join(a, pair_a)
    out = (
        joined.join(b, pair_b)
        .select(pair_a, pair_b, F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    if persist:
        out._dhs_persisted = shingled
    return out


# ---------------------------------------------------------------------------
# Candidate-pair clustering (connected components)
# ---------------------------------------------------------------------------

def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a localCheckpoint'd DataFrame's backing
    RDD blocks.  Spark exposes no public API for this (``unpersist()``
    only clears CacheManager entries); the LogicalRDD handle has been
    stable across 3.x/4.x — silently no-op if the internals move (the
    ContextCleaner then reclaims the blocks on GC instead, just
    later).

    .. warning:: Only call on a SUPERSEDED checkpoint — one whose
       DataFrame will never be scanned again.  A localCheckpoint'd
       plan is lineage-truncated: once its blocks are dropped the
       DataFrame is unrecoverable (it cannot recompute), so releasing
       a still-referenced checkpoint breaks every later action on it.
       This is the reason the helper is module-private; external
       callers should prefer :func:`release_clusters_checkpoint` (the
       clusters' checkpoint) or :func:`release_candidates_cache` (the
       verify's shingle cache), which only release handles the
       producing operator has explicitly marked as disposable."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:
        pass


def _min_label_numpy(a: "np.ndarray", b: "np.ndarray") -> tuple:
    """Vectorized connected components over an edge list: (unique nodes,
    per-node index of the component's minimum node).  Same algorithm as
    the distributed loop — min-label propagation with pointer jumping —
    run in index space, where ``np.unique``'s sort makes index order
    agree with id order (so a min over indices IS a min over ids)."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lab.copy()
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, prev):
            return nodes, lab


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 25,
                   small_graph_edges: int = 1_000_000) -> DataFrame:
    """Connected components over candidate pairs -> (doc_id, cluster_id)
    with ``cluster_id`` = the minimum doc id in the component — the step
    after LSH + verification that picks ONE canonical document per
    near-duplicate group.

    Size-based plan selection, the same decision AQE makes for
    broadcast joins: the input here is the VERIFIED near-duplicate edge
    list — already orders of magnitude smaller than the corpus after
    the LSH cap + signature gate + exact verify — so when it holds at
    most ``small_graph_edges`` edges (16 bytes/edge -> <= ~16 MB, a
    broadcast-sized transfer) the components are solved in one
    vectorized numpy min-label kernel on the driver and returned as a
    local DataFrame: zero iterative shuffles, identical labels.  The
    size probe IS the local collect — one limit-capped Arrow collect
    decides the plan and already holds the edge list when it is small,
    so the small-graph path evaluates the upstream plan exactly once
    with no separate count job.  Set ``small_graph_edges=0`` to force
    the distributed path.

    Above the threshold, the Spark-native iterative loop runs: min-label
    propagation WITH pointer doubling — each round (a) joins the
    (undirected) edge list to the current labels and takes the min over
    neighbors, then (b) compresses one indirection — ``label(u) <-
    min(label(u), label(label(u)))`` — so label information hops two
    steps per round and convergence is O(log diameter) instead of
    O(diameter) (a 10^6-node chain needs ~20 rounds, not 10^6).
    ``localCheckpoint`` truncates lineage per round so the plan stays
    bounded.  LSH candidate graphs (near-cliques / anchor stars — see
    streaming/dedup.py) still converge in 2-3 shuffles; the doubling
    join is on the (node-id) label key and costs one extra small
    shuffle per round.  Raises if ``max_iter`` rounds don't converge.

    On the distributed path the result is backed by the final round's
    ``localCheckpoint`` (eagerly materialized — re-scanning it is a
    block read, not a recompute).  In a long-lived session, call
    :func:`release_clusters_checkpoint` on the returned DataFrame once
    its contents are consumed, or repeated invocations accumulate one
    pinned RDD each.
    """
    e = pairs.select(F.col(id_a).cast("long").alias("a"),
                     F.col(id_b).cast("long").alias("b"))
    if small_graph_edges:
        # size probe FUSED with the local collect: one limit-capped
        # Arrow collect both decides the plan and (when small) already
        # holds the complete edge list — the separate count + cached
        # toPandas of the round-14 form evaluated the upstream plan
        # once but paid an extra job and a cache round-trip per call
        # (round-15: the probe+collect fuse saves ~1 job / ~0.2 s on
        # every small-graph invocation).  The cap makes the decision
        # identical to the old 2 * count <= small_graph_edges gate: the
        # collect returns at most cap + 1 rows, so a big graph lands at
        # cap + 1 and falls through without ever materializing more
        # than the old count pass did.  The persist stays so the
        # distributed fallback reuses whatever the probe scan cached
        # instead of recomputing the (expensive) upstream plan.
        cap = small_graph_edges // 2
        ep = e.persist()
        pdf = ep.limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            ep.unpersist()
            nodes, lab = _min_label_numpy(pdf["a"].to_numpy(),
                                          pdf["b"].to_numpy())
            return local_relation(
                pairs.sparkSession,
                pa.table({"doc_id": nodes, "cluster_id": nodes[lab]}),
                "doc_id long, cluster_id long")
        # too big: fall through to the distributed loop; the edge
        # checkpoint below materializes FROM the cache (eager), after
        # which the probe cache is dead weight
        edges = ep.unionByName(
            ep.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct().localCheckpoint()
        ep.unpersist()
    else:
        edges = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct().localCheckpoint()
    # Seed labels with round 0 fused into the init aggregation:
    # label0(u) = min(u, min over neighbors) costs the same one shuffle
    # as materializing the distinct node set (edges are symmetrized, so
    # grouping on `a` covers every node) but starts the loop one
    # propagation step ahead — a near-clique converges in 1 verified
    # round instead of 2.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("__nb"))
        .select(F.col("a").alias("node"),
                F.least(F.col("a"), F.col("__nb")).alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.select(F.col("node").alias("b"),
                              F.col("label").alias("blabel")),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("blabel").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min,
                        labels["node"] == neighbor_min["a"], "left")
            .select(
                F.col("node"),
                F.col("label").alias("__old"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nmin"), F.col("label")),
                ).alias("label"),
            )
        )
        # pointer doubling: labels are node ids, so label(label(u)) is
        # one self-join on the label key; taking its min compresses one
        # indirection per round (chain graphs: O(log d) rounds)
        doubled = (
            stepped.alias("x")
            .join(
                stepped.select(F.col("node").alias("__lbl"),
                               F.col("label").alias("__ll")).alias("y"),
                F.col("x.label") == F.col("y.__lbl"),
                "left",
            )
            .select(
                F.col("x.node").alias("node"),
                F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("__ll"), F.col("x.label")),
                ).alias("label"),
                # carry the per-node changed flag instead of re-joining
                # old vs new labels afterwards: one cheap agg over the
                # checkpointed result decides convergence
                (F.least(
                    F.col("x.label"),
                    F.coalesce(F.col("__ll"), F.col("x.label")),
                ) < F.col("x.__old")).cast("int").alias("__chg"),
            )
        )
        new_labels = doubled.localCheckpoint()
        changed = new_labels.agg(F.sum("__chg")).first()[0]
        # the superseded round's checkpoint blocks are dead weight now
        # (new_labels is materialized and lineage-free) — free them
        # instead of letting them accumulate one RDD per round
        _release_local_checkpoint(labels)
        labels = new_labels
        if not changed:
            _release_local_checkpoint(edges)
            out = labels.select(F.col("node").alias("doc_id"),
                                F.col("label").alias("cluster_id"))
            # release handle for the backing checkpoint (see docstring)
            out._dhs_checkpoint = labels
            return out
    _release_local_checkpoint(edges)
    _release_local_checkpoint(labels)
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iter} rounds; "
        "raise max_iter for long-chain graphs"
    )


def release_clusters_checkpoint(clusters: DataFrame) -> None:
    """Free the final-labels checkpoint backing a
    :func:`dedup_clusters` result once its contents are consumed.
    The DataFrame must not be scanned again afterwards (the checkpoint
    is its only storage — there is no lineage to recompute from).
    No-op if already released or not a clusters result."""
    cp = getattr(clusters, "_dhs_checkpoint", None)
    if cp is not None:
        _release_local_checkpoint(cp)
        clusters._dhs_checkpoint = None
