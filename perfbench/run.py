#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload {bulk_direct,table_df} \
        --seed N --seconds S --trace {0,1}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with the Spark event log, the Python UDF profiler and driver
spans on, and prints the per-layer metrics.  Run from the root of a
checkout: the engine is imported from ``crumble_spark/`` beside this
directory, and everything the run writes goes under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_direct", "table_df")  # workloads.WORKLOADS, known before its import
E2E_UNITS = {"setup_s": "s", "encode_tok_s": "tokens/s", "read_ms": "ms",
             "compression_ratio": "x", "disk_ratio": "x"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "crumble_spark")):
        print(f"perfbench: no crumble_spark package beside {HERE}; run it from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    env.prepare(trace=bool(args.trace))
    from perfbench import harness, layers, workloads

    harness.adopt_orphans()
    # a SIGTERM unwinds through the ``finally`` below like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.perf_counter()
    run = workloads.Run(args.seed, args.seconds, bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        run.spark = None
        harness.stop_processes()
    print(f"perfbench: {args.workload} seed {args.seed} took "
          f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
    if args.trace:
        metrics = {k: (v, layers.unit_of(k)) for k, v in run.layer.items()}
        with open(os.path.join(env.WORK, f"trace-{args.workload}.json"), "w") as fh:
            json.dump({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "run_id": run.tr.run_id, "spans": run.tr.spans,
                "notes": {**run.notes, "e2e": run.e2e, "span_self_s": run.tr.self_times()},
            }, fh, indent=1, sort_keys=True)
    else:
        metrics = {k: (run.e2e[k], u) for k, u in E2E_UNITS.items()}
    harness.emit(run.failed == 0, run.attempted, run.failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
