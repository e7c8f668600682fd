"""Per-layer tracing from the benchmark's side of the library boundary.

The traced run replaces each layer's public functions (module
attributes, every module-level alias of them, and the public methods
of ``AggHistogram`` and ``Histogram``) with wrappers that record one
span per call.  Nothing inside the library changes, and ``restore``
puts every original back.

* **Spans** carry a name (``layer.function``), start, end, parent and
  pass id; self time is the duration minus the time child spans
  cover.  ``exec`` spans mark the action that materializes a layer's
  output; the workload opens them around its collects and counts.
* **Jobs** are attributed by job-ID range: the benchmark calls from one
  thread, so every job that starts between two span boundaries
  belongs to the span that is innermost at that moment, with an open
  ``exec`` span taking precedence over calls nested inside it.  Jobs
  the library launches from its own worker threads therefore land in
  the calling span.  Only spans opened on the tracing thread are
  recorded; calls from library worker threads run unwrapped.
* **Stage metrics** are read per job from the status store as soon as
  the outermost span closes, before retention limits could drop them.
"""

from __future__ import annotations

import collections
import functools
import importlib
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "dask_histogram_spark"

# layer -> modules whose public functions belong to it
MODULE_LAYERS = {
    "fill": ("fill", "spec", "binning", "bins"),
    "result": ("result",),
    "routines": ("routines",),
    "sources.io": ("sources.io",),
    "operators.dedup": ("operators.dedup",),
    "operators.spans": ("operators.spans",),
    "operators.text": ("operators.text",),
    "operators.pipeline": ("operators.pipeline",),
    "operators.bpe": ("operators.bpe",),
    "operators.similarity": ("operators.similarity",),
    "operators.localrel": ("operators.localrel",),
    "streaming": ("streaming.dedup", "streaming.histogram"),
}
# layer -> (module, class) whose public methods belong to it
CLASS_LAYERS = {
    "result": ("result", "AggHistogram"),
    "object_api": ("object_api", "Histogram"),
}
FULL_LAYERS = (
    "fill", "result", "routines", "object_api", "sources.io",
    "operators.dedup", "operators.spans", "operators.text",
    "operators.pipeline", "operators.bpe", "operators.similarity",
    "streaming",
)
FULL_METRICS = (
    "calls", "build_s", "exec_s", "build_jobs", "exec_jobs", "tasks",
    "executor_run_s", "shuffle_write_bytes", "spill_bytes",
)
PROBE = "operators.sizing"
# these layers run no jobs of their own outside an action: their spill
# is always 0, and dropping it keeps the list within 128 names
UNREPORTED = {"routines.spill_bytes", "object_api.spill_bytes"}


@dataclass
class Span:
    name: str
    layer: str
    kind: str                      # "call" or "exec"
    start: float
    parent: int | None
    pass_id: int
    end: float = 0.0
    child_s: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class JobSource:
    """The Spark side of the tracer: the next job ID and per-job stage
    metrics.  Tests substitute a fake."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._jsc = sc._jsc.sc()

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def job_metrics(self, job_ids) -> dict:
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        m = collections.Counter()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                s = store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    m["skipped_stages"] += 1
                    continue
                m["tasks"] += s.numTasks()
                m["executor_run_s"] += s.executorRunTime() / 1000.0
                m["shuffle_write_bytes"] += s.shuffleWriteBytes()
                m["spill_bytes"] += (s.diskBytesSpilled()
                                     + s.memoryBytesSpilled())
                m["jvm_gc_s"] += s.jvmGcTime() / 1000.0
                m["failed_tasks"] += s.numFailedTasks()
        return m


class Tracer:
    def __init__(self, jobs: JobSource, clock=time.perf_counter) -> None:
        self._jobs = jobs
        self._clock = clock
        self._thread = threading.get_ident()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._cursor = jobs.next_job_id()
        self.first_job = self._cursor
        self.pass_id = 0
        self.unattributed_jobs = 0
        self.overhead_s = 0.0
        self.layer = collections.defaultdict(collections.Counter)
        self.spark = collections.Counter()
        self.probe_misses = 0
        self._restore: list[tuple] = []

    # -- job-range attribution -----------------------------------------
    def _owner(self) -> Span | None:
        for i in reversed(self._stack):
            if self.spans[i].kind == "exec":
                return self.spans[i]
        return self.spans[self._stack[-1]] if self._stack else None

    def _advance(self) -> None:
        """Hand every job started since the last boundary to the span
        that owns the interval."""
        nxt = self._jobs.next_job_id()
        new = range(self._cursor, nxt)
        self._cursor = nxt
        owner = self._owner()
        if owner is None:
            self.unattributed_jobs += len(new)
        else:
            owner.jobs.extend(new)

    def finish(self) -> dict:
        """Close the books: jobs since the last boundary are
        unattributed.  Attributed plus unattributed is every job
        launched since the tracer started."""
        self._advance()
        return {"total": self._cursor - self.first_job,
                "attributed": sum(len(s.jobs) for s in self.spans),
                "unattributed": self.unattributed_jobs}

    # -- spans ---------------------------------------------------------
    def enter(self, name: str, layer: str, kind: str = "call") -> int:
        t0 = self._clock()
        self._advance()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, kind, 0.0, parent, self.pass_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        t1 = self._clock()
        self.spans[idx].start = t1
        self.overhead_s += t1 - t0
        return idx

    def exit(self, idx: int) -> None:
        t0 = self._clock()
        span = self.spans[idx]
        span.end = t0
        self._advance()
        self._stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.duration
        self._account(span)
        if not self._stack:
            self._read_stage_metrics(idx)
        self.overhead_s += self._clock() - t0

    def _inside_exec(self, span: Span) -> bool:
        p = span.parent
        while p is not None:
            if self.spans[p].kind == "exec":
                return True
            p = self.spans[p].parent
        return False

    def _account(self, span: Span) -> None:
        m = self.layer[span.layer]
        if span.kind == "exec":
            m["exec_s"] += span.duration
            m["exec_jobs"] += len(span.jobs)
            return
        m["calls"] += 1
        if not self._inside_exec(span):
            m["build_s"] += span.self_s
        m["build_jobs"] += len(span.jobs)
        if span.layer == PROBE:
            m["probe_s"] += span.duration

    def _read_stage_metrics(self, root: int) -> None:
        """Stage metrics of every job attributed under ``root``."""
        by_layer = collections.defaultdict(list)
        for span in self.spans[root:]:
            by_layer[span.layer].extend(span.jobs)
        for layer, jobs in by_layer.items():
            if not jobs:
                continue
            m = self._jobs.job_metrics(jobs)
            for k in ("tasks", "executor_run_s", "shuffle_write_bytes",
                      "spill_bytes"):
                self.layer[layer][k] += m[k]
            for k in ("skipped_stages", "failed_tasks", "jvm_gc_s"):
                self.spark[k] += m[k]

    def span(self, name: str, layer: str, kind: str = "call"):
        return _SpanCtx(self, name, layer, kind)

    def exec(self, layer: str):
        """Context for the action that materializes ``layer``'s output."""
        return _SpanCtx(self, f"{layer}.exec", layer, "exec")

    # -- wrapping ------------------------------------------------------
    def _wrap(self, f, name: str, layer: str):
        tracer = self

        @functools.wraps(f)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._thread:
                return f(*args, **kwargs)
            idx = tracer.enter(name, layer)
            try:
                return f(*args, **kwargs)
            finally:
                tracer.exit(idx)

        traced.__wrapped_by_tracer__ = True
        return traced

    def _wrap_probe(self, f, sizing):
        """``memoized_probe``: its span also counts cache misses via
        the module's compute counter."""
        tracer = self
        inner = self._wrap(f, f"{PROBE}.{f.__name__}", PROBE)

        @functools.wraps(f)
        def traced(*args, **kwargs):
            before = sizing.PROBE_COMPUTE_COUNT
            try:
                return inner(*args, **kwargs)
            finally:
                if threading.get_ident() == tracer._thread:
                    tracer.probe_misses += sizing.PROBE_COMPUTE_COUNT - before

        return traced

    def install(self, extra_modules=()) -> None:
        """Wrap every layer's public functions and rebind each alias of
        them in the library's and ``extra_modules``' namespaces."""
        swaps: dict[int, tuple] = {}
        for layer, mods in MODULE_LAYERS.items():
            for mod_name in mods:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                for fname, f in list(vars(mod).items()):
                    if (fname.startswith("_") or not inspect.isfunction(f)
                            or f.__module__ != mod.__name__):
                        continue
                    swaps[id(f)] = (f, self._wrap(f, f"{layer}.{fname}", layer))
        sizing = importlib.import_module(f"{PKG}.operators.sizing")
        probe = sizing.memoized_probe
        swaps[id(probe)] = (probe, self._wrap_probe(probe, sizing))
        for layer, (mod_name, cls_name) in CLASS_LAYERS.items():
            cls = getattr(importlib.import_module(f"{PKG}.{mod_name}"), cls_name)
            for fname, f in list(vars(cls).items()):
                if fname.startswith("_") or not inspect.isfunction(f):
                    continue
                setattr(cls, fname, self._wrap(f, f"{layer}.{fname}", layer))
                self._restore.append((cls, fname, f))
        namespaces = [m for n, m in list(sys.modules.items())
                      if n == PKG or n.startswith(PKG + ".")]
        namespaces += list(extra_modules)
        for mod in namespaces:
            for attr, val in list(vars(mod).items()):
                hit = swaps.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._restore.append((mod, attr, val))

    def restore(self) -> None:
        while self._restore:
            obj, attr, val = self._restore.pop()
            setattr(obj, attr, val)

    # -- report --------------------------------------------------------
    def metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in FULL_LAYERS:
            m = self.layer[layer]
            for k in FULL_METRICS:
                if f"{layer}.{k}" not in UNREPORTED:
                    out[f"{layer}.{k}"] = m[k]
        p = self.layer[PROBE]
        out[f"{PROBE}.probe_calls"] = p["calls"]
        out[f"{PROBE}.probe_misses"] = self.probe_misses
        out[f"{PROBE}.probe_s"] = p["probe_s"]
        out[f"{PROBE}.probe_jobs"] = p["build_jobs"]
        lr = self.layer["operators.localrel"]
        out["operators.localrel.calls"] = lr["calls"]
        out["operators.localrel.build_s"] = lr["build_s"]
        out["operators.localrel.jobs"] = lr["build_jobs"] + lr["exec_jobs"]
        q = self.layer["queries"]
        for k in ("calls", "build_s", "exec_s", "build_jobs", "exec_jobs"):
            out[f"queries.{k}"] = q[k]
        out["spark.skipped_stages"] = self.spark["skipped_stages"]
        out["spark.failed_tasks"] = self.spark["failed_tasks"]
        out["spark.jvm_gc_s"] = self.spark["jvm_gc_s"]
        out["unattributed.jobs"] = self.unattributed_jobs
        out["trace.overhead_s"] = self.overhead_s
        return out

    def span_records(self) -> list[dict]:
        return [{"name": s.name, "kind": s.kind, "start": s.start,
                 "end": s.end, "parent": s.parent, "pass": s.pass_id,
                 "self_s": s.self_s, "jobs": len(s.jobs)}
                for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str, kind: str):
        self._t, self._args = tracer, (name, layer, kind)

    def __enter__(self):
        self._idx = self._t.enter(*self._args)
        return self

    def __exit__(self, *exc):
        self._t.exit(self._idx)
        return False


class NullTracer:
    """The untraced run: the same calls, no bookkeeping."""

    pass_id = 0

    def span(self, name: str, layer: str, kind: str = "call"):
        return _NULL

    def exec(self, layer: str):
        return _NULL


class _Null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL = _Null()
