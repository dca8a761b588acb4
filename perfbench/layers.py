#!/usr/bin/env python3
"""Per-layer metrics of two benchmark results side by side, ranked by
how much each changed.

Usage: python3 perfbench/layers.py A.json B.json

Each file is either the JSON line a `--trace 1` run printed or the
artifact a run wrote (<build>/results/<workload>-seed<N>-trace1.json).
The ratio is B / A; rows are ordered by |log(B / A)|, metrics that
appear or vanish (one side zero) first.
"""
import json
import math
import os
import sys


def load(path):
    text = open(path).read().strip()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = json.loads(text.splitlines()[-1])
    if d.get("layers"):
        vals = d["layers"]
    else:
        metrics = d["metrics"] if "metrics" in d else d["result"]["metrics"]
        vals = {k: v["value"] for k, v in metrics.items()}
    return {k: float(v) for k, v in vals.items() if isinstance(v, (int, float))}


def units():
    spec = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    try:
        return {m["name"]: m["unit"] for m in json.load(open(spec))["per_layer"]}
    except (OSError, KeyError, ValueError):
        return {}


def change(a, b):
    if a == b:
        return 0.0
    if a == 0 or b == 0 or (a < 0) != (b < 0):
        return math.inf
    return abs(math.log(b / a))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    unit = units()
    names = sorted(set(a) | set(b), key=lambda n: (-change(a.get(n, 0.0), b.get(n, 0.0)), n))
    width = max(len(n) for n in names)
    print(f"{'metric':<{width}}  {'unit':<6} {'A':>14} {'B':>14} {'B/A':>8}")
    for n in names:
        x, y = a.get(n, 0.0), b.get(n, 0.0)
        ratio = "=" if x == y else ("n/a" if x == 0 else f"{y / x:.3f}")
        print(f"{n:<{width}}  {unit.get(n, ''):<6} {x:>14.4f} {y:>14.4f} {ratio:>8}")


if __name__ == "__main__":
    main()
