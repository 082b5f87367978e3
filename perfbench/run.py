"""Benchmark entry point for veri-spark.

    python3 perfbench/run.py --workload {store_mixed,curation_session}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). Everything the run writes (Spark scratch, the
feature store, temp files) stays under ``.bench_build/perfbench/`` in the
checkout and is removed at exit, except the span file of a traced run, which
is kept under ``.bench_build/perfbench/traces/``.

Exits non-zero without printing a result when the checkout holds no
``veri_spark`` package, when the measured metrics do not match
BENCHMARK.json, or when the run itself fails.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("store_mixed", "curation_session")


class Context:
    """What a workload gets from the harness: its arguments, a scratch
    directory, the tracer and a way to open the measured Spark session."""

    def __init__(self, args, work: str, t_start: float):
        from meter import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_start = t_start
        self.tracer = Tracer(self.trace)
        self.data_dir = os.path.join(HERE, "data")
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self.t_start:6.1f} s] {msg}",
              file=sys.stderr, flush=True)

    def open_session(self):
        """``veri_spark.session.get_spark`` with the scratch directories
        pointed into the checkout. Returns ``(spark, seconds)``."""
        from veri_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        with self.tracer.span("session.get_spark", "setup"):
            t0 = time.perf_counter()
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                    "spark.ui.showConsoleProgress": "false",
                    # keep every job and stage of a run readable afterwards
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
            dt = time.perf_counter() - t0
        return self.spark, dt

    def load_tool(self, name: str):
        """Import ``tools/<name>.py`` of the checkout without changing the
        import path for the rest of the run."""
        saved = list(sys.path)
        try:
            spec = importlib.util.spec_from_file_location(
                f"tools_{name}", os.path.join(ROOT, "tools", f"{name}.py"))
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
        finally:
            sys.path[:] = saved
        return mod

    def traced(self, metrics: dict) -> dict:
        """The end-to-end metrics as measured in the traced run, plus the
        tracer's own bookkeeping time; their difference to the untraced run
        is the tracing overhead."""
        out = {f"trace.{k}": v for k, v in metrics.items()}
        out["trace.bookkeeping_ms"] = self.tracer.bookkeeping_s * 1000.0
        return out

    def write_trace(self, spans: list[dict], extra: dict) -> None:
        d = os.path.join(ROOT, ".bench_build", "perfbench", "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "seed": self.seed,
                       "spans": spans, **extra}, f)

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def expected_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics a run must print, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "veri_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: no veri_spark package in this checkout", file=sys.stderr)
        return 2
    expected = expected_metrics(bool(args.trace))

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import veri_spark from the checkout, wherever
    # the run was started from; all scratch space stays inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cpus = os.cpu_count() or 1
    if not 0 < int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) <= cpus:
        os.environ["SPARK_GRAFT_CPUS"] = str(min(4, cpus))
    os.environ.setdefault("VERI_DRIVER_MEMORY", "3g")
    sys.path.insert(0, ROOT)

    ctx = Context(args, work, t_start)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with contextlib.redirect_stdout(sys.stderr):
            if args.workload == "store_mixed":
                import store_mixed as workload
            else:
                import curation as workload
            metrics, attempted, failures = workload.run(ctx)
    finally:
        ctx.close()
        ctx.log("stopped")
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - set(expected)
    missing = set() if args.trace else set(expected) - set(metrics)
    if unknown or missing:
        print(f"perfbench: not in BENCHMARK.json: {sorted(unknown)}; "
              f"not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    # a per-layer metric a workload does not produce belongs to a layer it
    # leaves idle, and reads 0
    values = {name: float(metrics.get(name, 0.0)) for name in expected}
    for line in failures[:20]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": int(attempted),
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": expected[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
