"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload hist_scan --seed 1 --seconds 6 --trace 0

Run from the root of a checkout of the repository.  The run generates
its inputs from ``--seed``, starts two sessions in fresh JVMs (set-up
time is their median; the second one stays up), measures passes for
``--seconds``, checks every output, and prints one JSON object as the
last line of standard output:

* ``--trace 0``: the end-to-end metrics (see ``BENCHMARK.json``);
* ``--trace 1``: the per-layer metrics, from wrapped library calls.

A full record of the run (every sample, host and build context, and
in traced runs every span) is written to
``.perfbench/runs/<workload>-<seed>-trace<0|1>.json``.  Exits 1 if any
call or output check failed, and 2 if the library cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2


def _prepare_env(work: str) -> None:
    """Python workers must import the library, and every temporary
    file stays inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]


def _e2e(setups, m) -> dict:
    return {
        "setup_s": {"value": stats.median(setups), "unit": "s"},
        "first_pass_s": {"value": m.first_pass_s, "unit": "s"},
        "pass_s": {"value": m.pass_s, "unit": "s"},
    }


PER_LAYER_UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes"}


def _per_layer(tr, m, rss) -> dict:
    out = tr.metrics()
    out["session.peak_rss_mb"] = rss
    out["calls.tail_ms"] = 1000.0 * stats.tail([s for _, s in m.calls])[0]
    pairs = m.detail.get("pairs", {})
    out["operators.dedup.candidate_pairs"] = pairs.get("candidate_pairs", 0)
    out["operators.dedup.verified_pairs"] = pairs.get("verified_pairs", 0)
    res = {}
    for k, v in out.items():
        unit = next((u for suf, u in PER_LAYER_UNITS.items()
                     if k.endswith(suf)), "count")
        res[k] = {"value": v, "unit": unit}
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        import dask_histogram_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness
    import workloads
    from tracing import JobSource, NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    record = {"workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "build": harness.build_context(ROOT),
              "host_start": harness.host_context()}
    try:
        t0 = time.perf_counter()
        wl.generate(args.seed, work)
        record["generate_s"] = time.perf_counter() - t0
        spark, state, setups = harness.timed_setups(SETUPS, work, wl.register)
        tr = NullTracer()
        try:
            if args.trace:
                tr = Tracer(JobSource(spark.sparkContext))
                tr.install(extra_modules=[workloads, sys.modules["chain"]])
            try:
                m = wl.measure(spark, state, args.seconds, tr)
            finally:
                if args.trace:
                    tr.restore()
            if args.trace:
                record["jobs"] = tr.finish()
            t0 = time.perf_counter()
            m.failures += wl.check(spark, state)
            record["check_s"] = time.perf_counter() - t0
            rss = harness.peak_rss_mb()
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["host_end"] = harness.host_context()
    record["setup_s"] = setups
    record["first_pass_s"] = m.first_pass_s
    record["pass_s"] = m.pass_s
    record["peak_rss_mb"] = rss
    record["calls"] = m.calls
    record["failures"] = m.failures
    record.update(m.detail)
    if m.calls:
        record["call_tail"] = dict(zip(("seconds", "percentile", "samples"),
                                       stats.tail([s for _, s in m.calls])))
    failed = len(m.failures)
    correct = failed == 0
    if args.trace:
        metrics = _per_layer(tr, m, rss)
        record["spans"] = tr.span_records()
    else:
        metrics = _e2e(setups, m) if correct else {}
    record["metrics"] = metrics
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, why in m.failures:
        print(f"FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": max(m.attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
