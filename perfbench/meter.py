"""Spark job accounting and span tracing for the benchmark.

``Meter.call`` runs one call into the program under its own Spark job group,
times it, and counts the jobs it fired from the status tracker (no listener
is registered). Every call is metered the same way with tracing on or off, so
the two runs differ only in the span bookkeeping.

With tracing on, ``Tracer`` keeps spans in memory: a name, a start, an end, a
parent and the id of the operation they belong to. After the timed region
``Meter.job_spans`` reads Spark's status store and turns each job of a
metered call into a child span of that call, and ``Meter.stage_totals`` sums
the stage metrics (executor time, shuffle, spill, input) of a set of jobs.
"""

from __future__ import annotations

import contextlib
import time

class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - t1

    def add_child(self, parent: dict, name: str, start: float, end: float, **attrs) -> None:
        self.spans.append({
            "id": len(self.spans), "name": name, "op": parent["op"],
            "parent": parent["id"], "start": start, "end": end, **attrs,
        })

    def with_self_times(self) -> list[dict]:
        """Each span plus ``self_s``: its duration minus the part of it that
        its child spans cover (children may overlap each other)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
        return out


class Meter:
    """Job-group accounting around calls into the program."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = 0
        #: (span or None, job group id) of every metered call, in call order
        self.calls: list[tuple[dict | None, str]] = []

    def call(self, name: str, fn, op: str | None = None):
        """Run ``fn()`` under a fresh job group. Returns
        ``(result, seconds, job_ids)``."""
        self._n += 1
        group = f"bench-{self._n}"
        self.sc.setJobGroup(group, name)
        with self.tracer.span(name, op) as rec:
            t0 = time.perf_counter()
            result = fn()
            dt = time.perf_counter() - t0
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        self.calls.append((rec, group))
        return result, dt, job_ids

    def trivial_job_ms(self, n: int = 5) -> float:
        """Median wall time of a one-task job: the per-job floor."""
        times = []
        for _ in range(n):
            _, dt, _ = self.call("spark.trivial_job", lambda: self.sc.parallelize([1], 1).count())
            times.append(dt * 1000.0)
        return sorted(times)[n // 2]

    def cached_storage(self) -> tuple[float, int]:
        """(MB held in Spark block storage, number of cached RDDs)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        return total / 1e6, len(infos)

    # -- status store (read after the timed region) ------------------------
    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def settle(self, job_ids, timeout_s: float = 20.0) -> None:
        """Wait until the status store has recorded every job's end (the
        listener bus is asynchronous)."""
        store = self._store()
        deadline = time.monotonic() + timeout_s
        pending = list(job_ids)
        while pending and time.monotonic() < deadline:
            still = []
            for j in pending:
                try:
                    if not store.job(j).completionTime().isDefined():
                        still.append(j)
                except Exception:  # not yet in the store
                    still.append(j)
            pending = still
            if pending:
                time.sleep(0.05)

    def job_spans(self) -> None:
        """Attach every job of every traced call as a ``spark.job`` child
        span, from the job's submission and completion times."""
        store = self._store()
        for rec, group in self.calls:
            if rec is None:
                continue
            for j in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
                jd = store.job(j)
                if not (jd.submissionTime().isDefined() and jd.completionTime().isDefined()):
                    continue
                self.tracer.add_child(
                    rec, "spark.job",
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                    job_id=j,
                )

    def stage_totals(self, job_ids) -> dict:
        """Sum stage metrics over the stages these jobs actually ran (a
        shuffle stage reused by a later job is counted once, where it ran).
        ``job_wall_s`` is the summed submission-to-completion wall time."""
        store = self._store()
        tot = dict(stages=0, tasks=0, failed_tasks=0, executor_run_s=0.0,
                   executor_cpu_s=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0,
                   spill_mb=0.0, input_mb=0.0, job_wall_s=0.0)
        seen = set()
        for j in job_ids:
            jd = store.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                tot["job_wall_s"] += (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                ) / 1000.0
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted or never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["failed_tasks"] += sd.numFailedTasks()
                tot["executor_run_s"] += sd.executorRunTime() / 1000.0
                tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                tot["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
                tot["input_mb"] += sd.inputBytes() / 1e6
        return tot


def spark_layer(meter: Meter, job_ids, cores: int) -> dict:
    """The ``spark.*`` per-layer metrics over a set of jobs."""
    t = meter.stage_totals(job_ids)
    return {
        "spark.stages": t["stages"],
        "spark.tasks": t["tasks"],
        "spark.executor_run_s": t["executor_run_s"],
        "spark.executor_cpu_s": t["executor_cpu_s"],
        "spark.shuffle_write_mb": t["shuffle_write_mb"],
        "spark.shuffle_read_mb": t["shuffle_read_mb"],
        "spark.spill_mb": t["spill_mb"],
        "spark.failed_tasks": t["failed_tasks"],
        # time jobs were open but not running tasks on the cores they had
        "spark.job_wait_s": t["job_wall_s"] - t["executor_run_s"] / cores,
    }


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def median_pass(samples: dict) -> float:
    """A pass at the median: the sum over request kinds of each kind's
    median latency (``samples`` maps a kind to its latencies). A stall that
    hits one request moves only its own kind's median, and only when it
    hits most of that kind's samples."""
    return sum(median(v) for v in samples.values())
