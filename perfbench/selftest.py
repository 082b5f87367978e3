"""Self-test of the benchmark.

    python3 perfbench/selftest.py          # static checks, a few seconds
    python3 perfbench/selftest.py --runs   # plus five benchmark runs, ~6 min

Static checks: the store's corpus, rounds and traced-run extras and the
curation warm-pass order are pure functions of the seed, and BENCHMARK.json is well
formed. With ``--runs`` it also runs each workload and checks that every
printed metric is in BENCHMARK.json with its unit, and that changing the seed
leaves ``spark_jobs`` unchanged on ``curation_session``.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import curation  # noqa: E402
import store_mixed  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same(a, b) -> bool:
    """Deep equality over dicts, lists and NumPy arrays."""
    if isinstance(a, dict):
        return isinstance(b, dict) and a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, np.ndarray):
        return isinstance(b, np.ndarray) and np.array_equal(a, b)
    return a == b


def check_seeded_inputs() -> list[str]:
    errors = []
    draws = {}
    for seed in (1, 2):
        runs = []
        for _ in range(2):
            centres, clusters, vecs = store_mixed.make_corpus(seed)
            runs.append((centres, clusters, vecs,
                         [store_mixed.make_round(seed, centres, r) for r in range(3)],
                         store_mixed.make_extras(seed, centres)))
        if not _same(runs[0], runs[1]):
            errors.append(f"store inputs differ between two draws of seed {seed}")
        draws[seed] = runs[0][3]
    if _same(draws[1], draws[2]):
        errors.append("store operations do not depend on the seed")
    if _same(draws[1][0], draws[1][1]):
        errors.append("store rounds do not depend on the round number")
    kinds = {tuple(op["name"] for op in ops) for d in draws.values() for ops in d}
    if kinds != {store_mixed.ROUND}:
        errors.append("store operations do not follow the fixed round order")
    for seed in range(10):
        if curation.pass_order(seed, 0) != list(curation.QUERIES):
            errors.append("curation cold pass does not run in the fixed order")
        for p in (1, 2):
            if curation.pass_order(seed, p) != curation.pass_order(seed, p):
                errors.append(f"curation warm order of seed {seed} pass {p} is not repeatable")
    if len({tuple(curation.pass_order(seed, 1)) for seed in range(10)}) < 2:
        errors.append("curation warm order does not depend on the seed")
    return errors


def check_benchmark_json() -> list[str]:
    errors = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    if len(names) != len(set(names)):
        errors.append("BENCHMARK.json repeats a name")
    for m in spec["end_to_end"] + spec["per_layer"]:
        keys = {"name", "unit", "better"} | ({"bound"} if m in spec["end_to_end"] else set())
        if set(m) != keys or not NAME.match(m["name"]) or not UNIT.match(m["unit"]):
            errors.append(f"malformed metric entry {m}")
        if m["better"] not in ("lower", "higher"):
            errors.append(f"{m['name']}: better must be lower or higher")
    for m in spec["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            errors.append(f"{m['name']}: bound outside (0, 0.25]")
    if {w["name"] for w in spec["workloads"]} != {"store_mixed", "curation_session"}:
        errors.append("BENCHMARK.json workloads differ from the ones run.py serves")
    return errors


def run_bench(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_runs() -> list[str]:
    errors = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jobs = {}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for workload in ("store_mixed", "curation_session"):
            res = run_bench(workload, 7, trace)
            got = {n: v["unit"] for n, v in res["metrics"].items()}
            if got != want:
                errors.append(f"{workload} --trace {trace}: printed metrics differ from {key}")
            if not res["correct"]:
                errors.append(f"{workload} --trace {trace}: {res['failed']} failed operations")
            if workload == "curation_session" and not trace:
                jobs[7] = res["metrics"]["spark_jobs"]["value"]
    jobs[8] = run_bench("curation_session", 8, 0)["metrics"]["spark_jobs"]["value"]
    if jobs[7] != jobs[8]:
        errors.append(f"curation_session spark_jobs depends on the seed: {jobs}")
    return errors


def main() -> int:
    errors = check_seeded_inputs() + check_benchmark_json()
    if "--runs" in sys.argv[1:]:
        errors += check_runs()
    for e in errors:
        print(f"FAIL {e}")
    print("ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
