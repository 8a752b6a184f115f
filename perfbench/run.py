"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload agent_session --seed 7 \\
        --seconds 5 --trace 0

Generates the workload's inputs from the seed, starts the program from
the checkout's sources in fresh processes, measures for ``--seconds``,
checks every answer, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the same run's detailed figures; per-layer
metrics a workload does not exercise read 0. See
perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

from procs import ROOT

PACKAGE = "secure_agent_api_vector_search_spark"
WORKLOADS = ("agent_session", "batch_pipeline")
SETUPS = 2  # fresh processes started per run; setup_s is their median

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "throughput_per_s": "1/s"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its child processes (the finally
    # clauses below run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package beside perfbench/ to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "batch_pipeline":
            import batch

            out = batch.run(args.seed, args.seconds, bool(args.trace), work, SETUPS)
        else:
            import agent

            out = agent.run(args.seed, args.seconds, bool(args.trace), work, SETUPS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        import layers

        units = {name: unit for name, unit, _ in layers.catalog()}
    else:
        units = END_TO_END
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(out["metrics"].get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
