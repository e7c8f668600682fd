"""Record the expected result hash of each registry row, per seed.

    python3 perfbench/record_hashes.py --first 0 --last 63

Run from the root of a checkout.  For each seed it generates the
tables of ``corpus_chain``'s registry rows at the workload's sizes,
runs every row once in one session, checks every row (including
``minhash_lsh_stats``, whose oracle is too slow to run in a timed
benchmark run) against its DuckDB oracle, and stores the hashes in
``perfbench/expected_hashes.json``, keeping the seeds already there.
A run of the benchmark then checks its rows against the hashes of its
seed.  Exits 1, recording nothing, if any row misses its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--last", type=int, required=True)
    args = ap.parse_args(argv)

    work = os.path.join(run.ROOT, ".perfbench", "work", "record_hashes")
    shutil.rmtree(work, ignore_errors=True)
    run._prepare_env(work)
    import harness
    import workloads
    from tracing import NullTracer

    rows = workloads.RegistryRows()
    try:
        with open(rows.HASHES) as f:
            rec = json.load(f)
    except FileNotFoundError:
        rec = {}
    if rec.get("sizes") != rows.SIZES:
        rec = {"sizes": rows.SIZES, "hashes": {}}
    spark = harness.start_session(work)
    try:
        for seed in range(args.first, args.last + 1):
            rows.generate(seed, os.path.join(work, str(seed)))
            rows.one_pass(spark, NullTracer())
            if rows.failures:
                print(f"seed {seed}: {rows.failures}", file=sys.stderr)
                return 1
            con = workloads.duckdb_views(rows.dir, threads=4)
            for row, reps in rows.outputs.items():
                why = workloads.oracle_mismatch(con, row, reps[0])
                if why:
                    print(f"seed {seed}: {row} {why}", file=sys.stderr)
                    return 1
            con.close()
            rec["hashes"][str(seed)] = rows.hashes()
            print(f"seed {seed}: {rec['hashes'][str(seed)]}", flush=True)
            shutil.rmtree(os.path.join(work, str(seed)), ignore_errors=True)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    rec["hashes"] = dict(sorted(rec["hashes"].items(), key=lambda kv: int(kv[0])))
    with open(rows.HASHES, "w") as f:
        json.dump(rec, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
