"""Run-to-run spread of benchmark results.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds the standard output of one ``run.py`` run; its last line is
the result object. For every metric the script prints the median over the
files and the distance between the first and third quartile (as
``statistics.quantiles(values, n=4)`` gives them) as a share of the median,
next to the metric's bound from BENCHMARK.json where it has one.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(paths) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = {}
    for p in paths:
        with open(p) as f:
            res = json.loads(f.read().strip().splitlines()[-1])
        if not res["correct"]:
            print(f"{p}: {res['failed']} of {res['attempted']} operations failed")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{'metric':34s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} {'bound':>6s}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        bound = f"{bounds[name]:6.2f}" if name in bounds else ""
        print(f"{name:34s} {len(vs):3d} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
