"""The benchmark's workloads.  Each one generates its inputs from the
seed, registers them in a session (part of set-up), measures passes
in that session, and checks every output outside the timed region.

``measure`` returns a ``Measured``: the first pass's wall (a cold pass
in a fresh session, what a batch job pays), the steady pass built from
the latency of every call in the passes after it, and the failures
seen.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import dask_histogram_spark as dhs
from dask_histogram_spark.queries import ORACLES, QUERIES, get_tables

import chain
import gen
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Measured:
    first_pass_s: float
    pass_s: float = math.nan
    calls: list = field(default_factory=list)      # (name, seconds), steady passes
    attempted: int = 0
    failures: list = field(default_factory=list)   # (call name, reason)
    detail: dict = field(default_factory=dict)


def _passes(one_pass, seconds: float, tr, min_steady: int,
            warmup: int = 0, cold=None) -> Measured:
    """Run the cold pass (``cold()``, by default ``one_pass(0)``), then
    ``warmup`` passes of ``one_pass(pass_id) -> [(name, seconds)]``
    that are recorded but not summarized (the JIT is still compiling),
    then steady passes until ``seconds`` have passed since the first
    steady pass began and at least ``min_steady`` of them ran."""
    tr.pass_id = 0
    first = cold() if cold else one_pass(0)
    m = Measured(first_pass_s=sum(s for _, s in first), attempted=len(first))
    m.detail.update(first_pass_calls=first, warmup_calls=[])
    for pass_id in range(1, warmup + 1):
        tr.pass_id = pass_id
        calls = one_pass(pass_id)
        m.detail["warmup_calls"] += calls
        m.attempted += len(calls)
    steady = 0
    t0 = time.perf_counter()
    while steady < min_steady or time.perf_counter() - t0 < seconds:
        steady += 1
        tr.pass_id = warmup + steady
        calls = one_pass(warmup + steady)
        m.calls += calls
        m.attempted += len(calls)
    m.detail["steady_passes"] = steady
    m.pass_s = sum_of_medians(m.calls)
    return m


def sum_of_medians(calls) -> float:
    """A steady pass from per-call medians: the sum, over the calls of
    a pass, of each call's median latency across the steady passes."""
    by_name: dict[str, list] = {}
    for name, s in calls:
        by_name.setdefault(name, []).append(s)
    return sum(statistics.median(v) for v in by_name.values())


# ---------------------------------------------------------------------------
# hist_scan: the paper's operator over a generated parquet table
# ---------------------------------------------------------------------------

class HistScan:
    """Four public-API fills per pass over an uncached parquet scan,
    each finished with ``.values()``; checked against numpy."""

    name = "hist_scan"
    # a pass is still 30-50% slower after one warm-up pass in a fresh
    # JVM, and steady by the fourth
    WARMUP = 3
    MIN_STEADY = 4
    N_ROWS = 2_000_000
    FILES = 8
    WM_SPEC = dhs.HistogramSpec(
        axes=(dhs.StrCategory(gen.HIST_CATS, growth=False),
              dhs.Regular(20, -5.0, 5.0)),
        storage=dhs.Storage.WEIGHTED_MEAN)

    def generate(self, seed: int, work: str) -> None:
        self.cols = gen.hist_columns(seed, self.N_ROWS)
        self.path = os.path.join(work, "hist.parquet")
        gen.write_hist_table(self.cols, self.path, self.FILES)

    def register(self, spark):
        df = spark.read.parquet(self.path)
        df.createOrReplaceTempView("hist")
        return df

    def _staged(self, df):
        h = dhs.Histogram(dhs.Regular(50, -5.0, 5.0))
        h.fill(df, "x").fill(df, "y").fill(df, F.col("z") - 5.0)
        h.fill(df, "x", weight="w").fill(df, "y", weight="w")
        h.fill(df.where(F.col("cat") == "alpha"), "x")
        h.fill(df.where(F.col("cat") == "beta"), "y")
        h.fill(df, F.col("x") * 2.0)
        return h

    def calls(self):
        return [
            ("histogram_1d",
             lambda df: dhs.histogram(df, "x", bins=100, range=(-4.0, 4.0))),
            ("histogramdd_3d_weighted",
             lambda df: dhs.histogramdd(
                 df, ["x", "y", "z"], bins=(16, 16, 16),
                 range=[(-4.0, 4.0), (-5.0, 5.0), (0.0, 12.0)], weights="w")),
            ("fill_strcat_weighted_mean",
             lambda df: dhs.AggHistogram(
                 dhs.fill(df, ["cat", "y"], self.WM_SPEC, weight="w",
                          sample="x"), self.WM_SPEC)),
            ("staged_histogram_8_fills", self._staged),
        ]

    def measure(self, spark, df, seconds: float, tr) -> Measured:
        self.outputs = []

        def one_pass(pass_id):
            lat = []
            for name, build in self.calls():
                t0 = time.perf_counter()
                h = build(df)
                with tr.exec("fill"):
                    vals = h.values()
                lat.append((name, time.perf_counter() - t0))
                self.outputs.append((name, vals))
            return lat

        return _passes(one_pass, seconds, tr, self.MIN_STEADY, self.WARMUP)

    # -- numpy reference (the library's bin formula: floor((x-lo)*n/(hi-lo))
    @staticmethod
    def _bin(x, n, lo, hi):
        idx = np.floor((x - lo) * (n / (hi - lo)))
        ok = (x >= lo) & (x < hi) & (idx < n)
        return idx.astype(np.int64), ok

    def reference(self) -> dict:
        c = self.cols
        out = {}
        i, ok = self._bin(c["x"], 100, -4.0, 4.0)
        out["histogram_1d"] = np.bincount(i[ok], minlength=100).astype(float)

        ix, okx = self._bin(c["x"], 16, -4.0, 4.0)
        iy, oky = self._bin(c["y"], 16, -5.0, 5.0)
        iz, okz = self._bin(c["z"], 16, 0.0, 12.0)
        ok = okx & oky & okz
        flat = (ix * 16 + iy) * 16 + iz
        out["histogramdd_3d_weighted"] = np.bincount(
            flat[ok], weights=c["w"][ok], minlength=16 ** 3).reshape(16, 16, 16)

        iy, ok = self._bin(c["y"], 20, -5.0, 5.0)
        flat = c["cat"].astype(np.int64) * 20 + iy
        sw = np.bincount(flat[ok], weights=c["w"][ok], minlength=7 * 20)
        swx = np.bincount(flat[ok], weights=(c["w"] * c["x"])[ok],
                          minlength=7 * 20)
        with np.errstate(invalid="ignore", divide="ignore"):
            out["fill_strcat_weighted_mean"] = np.where(
                sw > 0, swx / sw, 0.0).reshape(7, 20)

        acc = np.zeros(50)
        alpha = c["cat"] == gen.HIST_CATS.index("alpha")
        beta = c["cat"] == gen.HIST_CATS.index("beta")
        for x, w, sel in ((c["x"], None, None), (c["y"], None, None),
                          (c["z"] - 5.0, None, None), (c["x"], c["w"], None),
                          (c["y"], c["w"], None), (c["x"], None, alpha),
                          (c["y"], None, beta), (c["x"] * 2.0, None, None)):
            i, ok = self._bin(x, 50, -5.0, 5.0)
            if sel is not None:
                ok = ok & sel
            acc += np.bincount(i[ok], weights=None if w is None else w[ok],
                               minlength=50)
        out["staged_histogram_8_fills"] = acc
        return out

    def check(self, spark, df) -> list:
        ref = self.reference()
        bad = []
        for name, vals in self.outputs:
            want = ref[name]
            if vals.shape != want.shape or not np.allclose(
                    vals, want, rtol=1e-9, atol=1e-9):
                bad.append((name, "values differ from the numpy reference"))
        return bad


# ---------------------------------------------------------------------------
# registry rows on sf0.1-shaped generated tables
# ---------------------------------------------------------------------------

def _norm(v):
    """A comparable, order-free form of one result value."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)) or \
            type(v).__name__ == "Decimal":
        return float(f"{float(v):.9g}")
    if isinstance(v, (list, tuple, np.ndarray)):  # a Row is a tuple
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        import pandas as pd
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    return str(v)


def norm_rows(rows) -> list:
    return sorted((tuple(_norm(x) for x in r) for r in rows), key=repr)


def rows_hash(rows) -> str:
    return hashlib.sha1(repr(norm_rows(rows)).encode()).hexdigest()


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def duckdb_views(directory: str, threads: int = 2):
    """A DuckDB connection with one view per parquet file of
    ``directory``, for the rows' oracle SQL."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for name in os.listdir(directory):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(directory, name)}')")
    return con


def oracle_mismatch(con, row: str, got_rows) -> str | None:
    """Why ``got_rows`` differs from the row's DuckDB oracle, or None."""
    want = norm_rows(con.execute(ORACLES[row]).fetchall())
    got = norm_rows(got_rows)
    if len(got) == len(want) and all(_close(a, b) for a, b in zip(got, want)):
        return None
    return f"differs from its oracle ({len(got)} vs {len(want)} rows)"


class RegistryRows:
    """Registry rows (``queries.QUERIES``) on sf0.1-shaped tables: each
    pass calls every row once (plan build + collect).  Each row's
    result must hash the same in every pass and match the hash recorded
    for the seed in ``expected_hashes.json`` (when the seed is there);
    the rows in ``ORACLE_ROWS`` must also match their DuckDB oracle."""

    ROWS = ("windowed_histogram", "minhash_lsh_stats", "similarity_topk")
    # rows whose DuckDB oracle is cheap enough to run every time
    # (minhash_lsh_stats' SQL MinHash takes ~12 s on 2 threads; its
    # recorded hashes were checked against that oracle instead)
    ORACLE_ROWS = ("windowed_histogram", "similarity_topk")
    SIZES = dict(docs=5_000, embeddings=2_000, events=100_000)
    HASHES = os.path.join(HERE, "expected_hashes.json")

    def generate(self, seed: int, work: str) -> None:
        self.seed = seed
        self.dir = os.path.join(work, "tables")
        gen.write_registry_tables(seed, self.dir, **self.SIZES)
        self.outputs = {r: [] for r in self.ROWS}
        self.failures = []

    def register(self, spark):
        return get_tables(spark, self.dir)

    def one_pass(self, spark, tr) -> list:
        lat = []
        for row in self.ROWS:
            t0 = time.perf_counter()
            try:
                with tr.span(f"queries.{row}", "queries"):
                    df = QUERIES[row](spark, self.dir)
                with tr.exec("queries"):
                    rows = df.collect()
            except Exception as e:  # a failed call is counted, not fatal
                self.failures.append((row, f"{type(e).__name__}: {e}"[:300]))
                continue
            lat.append((row, time.perf_counter() - t0))
            self.outputs[row].append(rows)
        return lat

    def expected(self) -> dict:
        """The recorded hashes for this seed, if recorded at these sizes."""
        try:
            with open(self.HASHES) as f:
                rec = json.load(f)
        except FileNotFoundError:
            return {}
        if rec.get("sizes") != self.SIZES:
            return {}
        return rec["hashes"].get(str(self.seed), {})

    def hashes(self) -> dict:
        return {row: rows_hash(reps[0])
                for row, reps in self.outputs.items() if reps}

    def check(self) -> list:
        bad = []
        expected = self.expected()
        con = duckdb_views(self.dir)
        for row, reps in self.outputs.items():
            if not reps:
                continue
            if len({rows_hash(r) for r in reps}) != 1:
                bad.append((row, "result differs between passes"))
            if row in expected and rows_hash(reps[0]) != expected[row]:
                bad.append((row, "result differs from the recorded hash"))
            if row in self.ORACLE_ROWS:
                why = oracle_mismatch(con, row, reps[0])
                if why:
                    bad.append((row, why))
        con.close()
        return bad


# ---------------------------------------------------------------------------
# corpus_chain: the composed corpus-construction chain, then registry rows
# ---------------------------------------------------------------------------

class CorpusChain:
    """The corpus job.  Its cold pass is the composed chain, once in the
    fresh session, on a planted corpus whose exact accounting is the
    chain's output check.  Its steady passes are the registry rows
    (``RegistryRows``) in the same session: two warm-up passes that pay
    their probes and landings and let the JIT settle, then steady
    passes."""

    name = "corpus_chain"
    N_DOCS = 5_000
    WARMUP = 2
    MIN_STEADY = 3

    def __init__(self) -> None:
        self.registry = RegistryRows()

    def generate(self, seed: int, work: str) -> None:
        self.seed = seed
        self.scratch = os.path.join(work, "chain")
        os.makedirs(self.scratch, exist_ok=True)
        self.registry.generate(seed, work)

    def register(self, spark):
        # the chain synthesizes its corpus itself; the rows' tables are
        # registered here
        return self.registry.register(spark)

    def measure(self, spark, _state, seconds: float, tr) -> Measured:
        pairs = {} if isinstance(tr, Tracer) else None
        failures = []

        def cold():
            try:
                laps, counts = chain.run_chain(spark, self.N_DOCS, self.seed,
                                               self.scratch, tr, pairs)
            except chain.CheckFailed as e:
                failures.append(("chain", str(e)))
                return [("chain", math.nan)]
            self.counts = counts
            return list(laps.items())

        m = _passes(lambda _: self.registry.one_pass(spark, tr), seconds, tr,
                    self.MIN_STEADY, self.WARMUP, cold=cold)
        # the chain is one call of the cold pass, whatever its stages
        m.attempted += 1 - len(m.detail["first_pass_calls"])
        m.attempted += len(self.registry.failures)
        m.failures += failures + self.registry.failures
        m.detail.update(counts=getattr(self, "counts", {}), pairs=pairs or {},
                        row_hashes=self.registry.hashes())
        return m

    def check(self, spark, _state) -> list:
        return self.registry.check()  # the chain checks itself as it runs


WORKLOADS = {w.name: w for w in (HistScan, CorpusChain)}
