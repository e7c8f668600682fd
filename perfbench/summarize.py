"""Summarize run records into medians and quartiles per workload.

    python3 perfbench/summarize.py [record.json ...]

With no arguments it reads every record under ``.perfbench/runs/``.
Untraced runs give each end-to-end metric's median, quartiles, spread
(quartile distance over median) and the seeds used; a traced run's
per-layer metrics are included as recorded (the one with the highest
seed per workload), with its job accounting, whether attributed plus
unattributed jobs add up to the total, and its first and steady pass
minus the untraced runs' medians.  Prints one JSON object:

    python3 perfbench/summarize.py > perfbench/START.json
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(records: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for r in sorted(records, key=lambda r: (r["workload"], r["seed"])):
        w = out.setdefault(r["workload"], {"seeds": [], "end_to_end": {},
                                           "per_layer": None})
        if r["trace"]:
            jobs = r["jobs"]
            w["per_layer"] = {
                "seed": r["seed"], "jobs": jobs,
                "jobs_add_up": jobs["attributed"] + jobs["unattributed"]
                == jobs["total"],
                "metrics": {k: v["value"] for k, v in r["metrics"].items()},
                "traced": {k: r[k] for k in ("first_pass_s", "pass_s")}}
            continue
        if r["failures"]:
            w.setdefault("failed_seeds", []).append(r["seed"])
            continue
        w["seeds"].append(r["seed"])
        for k, v in r["metrics"].items():
            w["end_to_end"].setdefault(k, {"unit": v["unit"], "values": []})
            w["end_to_end"][k]["values"].append(v["value"])
        w.setdefault("host", []).append(
            {"seed": r["seed"], "start": r["host_start"],
             "end": r["host_end"], "build": r["build"]})
    for w in out.values():
        for m in w["end_to_end"].values():
            v = m["values"]
            if len(v) >= 2:
                q1, med, q3 = statistics.quantiles(v, n=4)
                m.update(median=med, q1=q1, q3=q3, spread=(q3 - q1) / med)
        # the tracing overhead as traced wall minus untraced median wall
        pl = w["per_layer"]
        if pl and w["end_to_end"]:
            pl["traced_minus_untraced_s"] = {
                k: v - w["end_to_end"][k]["median"]
                for k, v in pl.pop("traced").items()}
    return out


def main(paths: list[str]) -> None:
    paths = paths or glob.glob(os.path.join(os.path.dirname(HERE),
                                            ".perfbench", "runs", "*.json"))
    records = []
    for p in paths:
        with open(p) as f:
            records.append(json.load(f))
    print(json.dumps(summarize(records), indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
