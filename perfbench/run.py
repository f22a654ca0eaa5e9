"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds a local[nproc] SparkSession, writes
the workload's seeded inputs under .perfbench_work/, runs one checked
warm-up, then measures for --seconds with a closed loop and one client.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with every end_to_end metric
of BENCHMARK.json (--trace 0) or every per_layer metric (--trace 1; layers
a workload does not exercise read 0). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, Outcome, Run, log  # noqa: E402

WORKLOADS = ("dedup", "search_sql")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "go_lsh_spark", "__init__.py")):
        log(f"go_lsh_spark is not in {ROOT}: run from the root of a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)

    module = __import__(args.workload)
    run = Run(args.workload, bool(args.trace))
    outcome = Outcome()
    try:
        e2e, layers, from_eventlog = module.run_workload(run, args, outcome, expected)
        if run.trace:
            import eventlog

            run.stop_spark()  # flushes and closes the event log
            from_eventlog(eventlog.parse(run.eventlog_path()), layers)
    finally:
        run.cleanup()
    log(f"done {time.perf_counter() - run.t_start:.2f}s")

    if args.trace:
        metrics = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
