"""Benchmark entry point.

    python3 spatialbench/run.py --workload flagship_scan --seed 1 --seconds 15 --trace 0

Prints the run record, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0`` and the per-layer metrics with ``--trace 1``. The record
is also written under ``.spatialbench/runs/`` at the repository root. Works
from any working directory; reads and writes only inside the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gdal_spark")):
        print(f"spatialbench: no gdal_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".spatialbench")

    from spatialbench.harness import run
    from spatialbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    record = run(
        WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
        os.path.join(state, f"work-{os.getpid()}"),
    )
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(record["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
