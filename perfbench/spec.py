#!/usr/bin/env python3
"""Write the ``per_layer`` list of BENCHMARK.json from ``layers.NAMES``,
``layers.unit_of`` and ``layers.better_of``, so the names, units and
directions have one source.

    python3 perfbench/spec.py [--check]

``--check`` changes nothing and exits 1 if the file is out of date.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    per_layer = [
        {"name": n, "unit": layers.unit_of(n), "better": layers.better_of(n)}
        for n in layers.NAMES
    ]
    if args.check:
        if bench["per_layer"] != per_layer:
            print(f"{path}: per_layer is out of date; run perfbench/spec.py", file=sys.stderr)
            return 1
        return 0
    bench["per_layer"] = per_layer
    with open(path, "w") as fh:
        json.dump(bench, fh, indent=2)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
