#!/usr/bin/env python3
"""Record the golden tables the benchmark checks its outputs against.

    python3 perfbench/record_goldens.py --size tiny --datasets 1
    python3 perfbench/record_goldens.py --size full --datasets 0 1 2 3 4 5 6 7 8 9 10

Run from the root of a checkout. Runs each omics workload's operation
once per dataset (a run with seed ``s`` uses dataset
``s % workloads.N_DATASETS``), each in a fresh JVM, and merges every
table into perfbench/goldens.json as soon as it is computed. Re-record
only when a change is meant to alter the tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", choices=("full", "tiny"), required=True)
    ap.add_argument("--datasets", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=["report_wide", "sweep_small"])
    args = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    from run import WORK, fit_environment, start_session, stop_session
    from workloads import GOLDENS, N_DATASETS, WORKLOADS, load_goldens, table_key

    if not all(0 <= d < N_DATASETS for d in args.datasets):
        ap.error(f"datasets are 0..{N_DATASETS - 1}")
    fit_environment()
    spark = None
    goldens = load_goldens()
    for name in args.workloads:
        wl = WORKLOADS[name](args.size, goldens)
        for dataset in args.datasets:
            # A fresh JVM per table: the sweep leaves cached frames
            # behind, and a dozen sweeps in one session exhaust the heap.
            spark = start_session(spark)
            rows = wl.operation(spark, wl.make_inputs(WORK, dataset))
            goldens.setdefault(name, {}).setdefault(args.size, {})[str(dataset)] = table_key(rows)
            print(name, args.size, dataset, rows, file=sys.stderr)
            with open(GOLDENS, "w") as fh:
                json.dump(goldens, fh, indent=1, sort_keys=True)
                fh.write("\n")
    if spark is not None:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
