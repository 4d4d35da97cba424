#!/usr/bin/env python3
"""Record a host-stamped baseline of the benchmark into perfbench/results.

    python3 perfbench/record.py [--workloads bulk_direct,table_df]
        [--seeds 1-10] [--seconds N] [--traced] [--tag NAME]

For every workload, runs ``perfbench/run.py`` once per seed (untraced) and
reports each end-to-end metric's per-run values, median, quartiles and
quartile spread (``(q3 - q1) / median``, as ``statistics.quantiles(values,
n=4)`` gives them).  ``--traced`` adds one traced run per workload (first seed): its
per-layer metrics, span-derived notes and the tracing overhead, i.e. the
traced run's end-to-end numbers against the untraced run of the same seed
and against the untraced medians.

Every result carries host facts: CPUs, the ``bench.py`` kernel probe
before and after, steal % and load average over the recording, library
versions and the git commit.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import env  # noqa: E402


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def _kernel_probe() -> float:
    """The frozen ``bench.py`` single-core kernel probe (M tok/s)."""
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._kernel_probe_mtoks()


def _git_commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def _versions() -> dict[str, str]:
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


# the parts of a direct encode that the profiler and event log name; the
# rest of the wall is task time outside the profiled Python UDF
NAMED_PARTS = ("list_s", "read_s", "kernel_s", "write_s", "sched_gap_s", "driver_tail_s")


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    for line in proc.stderr.splitlines():
        if line.startswith("perfbench:"):
            print("   ", line, file=sys.stderr)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    out = json.loads(lines[-1])
    out["process_s"] = wall
    print(f"{workload} seed {seed} trace {int(trace)}: {wall:.1f} s "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()
                     if not trace), file=sys.stderr, flush=True)
    return out


def summarise(values: list[float]) -> dict[str, float]:
    # one run: its value is every quartile
    q1, med, q3 = statistics.quantiles(values * (2 if len(values) == 1 else 1), n=4)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else float("nan"), "n": len(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--tag", default=f"{env.host_cpus()}cpu")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    host = {
        "nproc": os.cpu_count(), "cpus_used": env.host_cpus(),
        "probe_mtoks_core_start": _kernel_probe(),
        "load_avg_start": os.getloadavg(), "commit": _git_commit(), **_versions(),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    jiffies0 = cpu_jiffies()
    result: dict = {"host": host, "seconds": args.seconds, "seeds": _seeds(args.seeds),
                    "workloads": {}}
    for w in args.workloads.split(","):
        runs = [run_once(w, s, args.seconds, False) for s in result["seeds"]]
        names = list(runs[0]["metrics"])
        res = {
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "all_correct": all(r["correct"] for r in runs),
            "process_s": summarise([r["process_s"] for r in runs]),
            "metrics": {
                k: {**summarise([r["metrics"][k]["value"] for r in runs]),
                    "unit": runs[0]["metrics"][k]["unit"], "bound": bounds.get(k),
                    "runs": [r["metrics"][k]["value"] for r in runs]}
                for k in names
            },
        }
        if args.traced:
            seed = result["seeds"][0]
            tr = run_once(w, seed, args.seconds, True)
            with open(os.path.join(env.WORK, f"trace-{w}.json")) as fh:
                art = json.load(fh)
            res["traced"] = {
                "seed": seed,
                "process_s": tr["process_s"],
                "correct": tr["correct"],
                "per_layer": {k: v["value"] for k, v in tr["metrics"].items()},
                "units": {k: v["unit"] for k, v in tr["metrics"].items()},
                "notes": art["notes"],
                # traced minus untraced, as a share of the untraced run of the
                # same seed (ratios must read 0) and of the untraced median
                "overhead": {
                    k: art["notes"]["e2e"][k] / res["metrics"][k]["runs"][0] - 1 for k in names
                },
                "overhead_vs_median": {
                    k: art["notes"]["e2e"][k] / res["metrics"][k]["median"] - 1 for k in names
                },
                "spans": len(art["spans"]),
            }
            bd = art["notes"].get("encode_breakdown_s")
            if bd:
                named = sum(bd[k] for k in NAMED_PARTS)
                res["traced"]["encode_named_parts_share"] = named / bd["wall_s"]
        result["workloads"][w] = res
    jiffies1 = cpu_jiffies()
    host["probe_mtoks_core_end"] = _kernel_probe()
    host["load_avg_end"] = os.getloadavg()
    if jiffies0 and jiffies1 and jiffies1[1] > jiffies0[1]:
        host["steal_pct"] = 100.0 * (jiffies1[0] - jiffies0[0]) / (jiffies1[1] - jiffies0[1])
    host["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"baseline_{args.tag}.json")
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    for w, res in result["workloads"].items():
        for k, m in res["metrics"].items():
            flag = "" if m["bound"] is None or k == "setup_s" or m["spread"] <= m["bound"] / 3 \
                else "  <-- spread above a third of the bound"
            print(f"{w:12s} {k:20s} median {m['median']:.4g} {m['unit']:3s} "
                  f"spread {m['spread']:.3f} (bound {m['bound']}){flag}")
    for w, res in result["workloads"].items():
        tr = res.get("traced")
        if tr:
            print(f"{w:12s} traced: overhead "
                  + ", ".join(f"{k} {v:+.1%}" for k, v in tr["overhead"].items())
                  + (f"; named encode parts {tr['encode_named_parts_share']:.0%} of wall"
                     if "encode_named_parts_share" in tr else ""))
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
