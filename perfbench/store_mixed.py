"""The ``store_mixed`` workload: reads next to writes on one FeatureStore dataset.

Set-up generates a seeded corpus (``N_ROWS`` x ``DIM`` float32 vectors drawn
around ``N_CLUSTERS`` Gaussian centres, JSON labels and group labels) and
inserts it into a 16-bucket dataset with the capacity gate off
(``target_n=0``), then runs ``WARM_UP_ROUNDS`` untimed rounds while the JVM
is still compiling the store's hot paths.

The timed region is one closed loop (one client thread) of rounds: at least
``MIN_ROUNDS``, and more while the run's seconds are not used up. A round is
the operations named in ``ROUND``, in that fixed order, with every argument
drawn from the seed and the round number: an exact search through the
result cache, its repeat (served from the cache), an upsert of
``NEW_PER_ROUND`` new rows plus as many version bumps, and an exact search
with a JSON-path label filter, a group filter and a ``group_limit``. Each
operation kind's latency is its median over the timed rounds, so a stall in
one round does not set it.

A traced run follows the timed region with an ``Annoy*`` search served while
no index matches the dataset, an eight-vector search, a delete of
``N_DELETE`` keys, ``refresh_index(if_needed=True)`` and an ``Annoy*`` search
on the fresh index, for the per-layer metrics.

Every result is checked against a NumPy brute force over the benchmark's own
copy of the live rows; ``Annoy*`` results are scored by recall@10 against
the same brute force. Store accounting (bytes written, buckets rewritten,
cache hits, index staleness) comes from file stats of the store root taken
before and after each operation.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from meter import Meter, median, median_pass, spark_layer

N_ROWS = 2_000
DIM = 64
N_CLUSTERS = 32
N_BUCKETS = 16
K = 10
DATASET = "bench"
NEW_PER_ROUND = 250
N_DELETE = 50
#: untimed rounds in set-up: the first three rounds of a session run 1.2-1.5x
#: slower than the later ones, which agree within a few per cent
WARM_UP_ROUNDS = 2
MIN_ROUNDS = 3
MAX_ROUNDS = 40
#: operation order of a round. The repeat follows its original with no write
#: between them, so it is a result-cache hit.
ROUND = ("exact_cached", "exact_hit", "upsert", "exact_grouped")
#: operations a traced run adds after the timed region; the first ANN search
#: is served while no index matches the dataset, the last from a fresh one
EXTRAS = ("ann", "multi", "delete", "refresh", "ann_fresh")
FUNCS = ("VectorDistance", "CosineSimilarity")
CACHE_S = 3600
TOL = 1e-9


def group_label(c: int) -> str:
    return f'{{"c":{c},"tier":"gold"}}' if c % 2 == 0 else f'{{"c":{c}}}'


def label(i: int, version: int) -> str:
    meta = f',"meta":{{"src":"s{i % 7}"}}' if i % 3 == 0 else ""
    return f'{{"id":{i},"v":{version}{meta}}}'


def make_corpus(seed: int):
    """(centres, cluster of each row, vectors) — a pure function of the seed."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    clusters = rng.integers(0, N_CLUSTERS, N_ROWS)
    vecs = (centres[clusters] + rng.normal(0.0, 0.35, (N_ROWS, DIM))).astype(np.float32)
    return centres, clusters, vecs


def _query(rng, centres):
    c = int(rng.integers(0, N_CLUSTERS))
    return (centres[c] + rng.normal(0.0, 0.35, DIM)).astype(np.float32)


def make_round(seed: int, centres, r: int) -> list[dict]:
    """Round ``r``'s operations, in ``ROUND`` order — a pure function of the
    seed and ``r``, which draw every argument: query vectors, score
    functions and the rows written. Writes name rows by id; the new rows of
    round ``r`` follow the corpus and the earlier rounds' new rows, and a
    bump sets a corpus row's version to ``r + 1``."""
    rng = np.random.default_rng([seed, 2, r])
    funcs = [FUNCS[i] for i in rng.permutation([0, 1])]
    cached = {"kind": "exact", "func": funcs[0], "q": _query(rng, centres), "cache": True}
    new_c = rng.integers(0, N_CLUSTERS, NEW_PER_ROUND)
    first = N_ROWS + NEW_PER_ROUND * r
    ops = {
        "exact_cached": cached,
        "exact_hit": dict(cached),
        "upsert": {
            "kind": "upsert",
            "new_ids": list(range(first, first + NEW_PER_ROUND)),
            "new_clusters": new_c.tolist(),
            "new_vecs": (centres[new_c] + rng.normal(0.0, 0.35, (NEW_PER_ROUND, DIM)))
            .astype(np.float32),
            "bump_ids": rng.choice(N_ROWS, NEW_PER_ROUND, replace=False).tolist(),
            "version": r + 1,
        },
        "exact_grouped": {"kind": "exact", "func": funcs[1], "q": _query(rng, centres),
                          "cache": False, "filtered": True},
    }
    return [{**ops[name], "name": name} for name in ROUND]


def make_extras(seed: int, centres) -> list[dict]:
    """The traced run's operations after the timed region, in ``EXTRAS``
    order — a pure function of the seed. The delete names corpus rows,
    which stay live through every round."""
    rng = np.random.default_rng([seed, 3])
    ops = {
        "ann": {"kind": "ann", "func": "Annoy" + FUNCS[int(rng.integers(0, 2))],
                "q": _query(rng, centres)},
        "multi": {"kind": "multi", "func": FUNCS[int(rng.integers(0, 2))],
                  "qs": [_query(rng, centres) for _ in range(8)]},
        "delete": {"kind": "delete",
                   "ids": rng.choice(N_ROWS, N_DELETE, replace=False).tolist()},
        "refresh": {"kind": "refresh"},
        "ann_fresh": {"kind": "ann", "func": "Annoy" + FUNCS[int(rng.integers(0, 2))],
                      "q": _query(rng, centres)},
    }
    return [{**ops[name], "name": name} for name in EXTRAS]


class Model:
    """The benchmark's own copy of the dataset's live rows."""

    def __init__(self, clusters, vecs):
        cap = N_ROWS + NEW_PER_ROUND * MAX_ROUNDS
        self.x = np.zeros((cap, DIM), np.float32)
        self.x[:N_ROWS] = vecs
        self.cluster = np.zeros(cap, np.int64)
        self.cluster[:N_ROWS] = clusters
        self.version = np.zeros(cap, np.int64)
        self.live = np.zeros(cap, bool)
        self.live[:N_ROWS] = True
        self.meta = np.arange(cap) % 3 == 0

    @property
    def gold(self) -> np.ndarray:
        return self.cluster % 2 == 0

    def label_of(self, i: int) -> str:
        return label(i, int(self.version[i]))

    def rows(self, ids) -> list[tuple]:
        return [(self.x[i].tolist(), group_label(int(self.cluster[i])),
                 self.label_of(i), int(self.version[i])) for i in ids]

    def apply_upsert(self, op) -> None:
        ids = np.asarray(op["new_ids"])
        self.x[ids] = op["new_vecs"]
        self.cluster[ids] = op["new_clusters"]
        self.live[ids] = True
        self.version[op["bump_ids"]] = op["version"]

    def scores(self, func: str, q) -> tuple[np.ndarray, bool]:
        x = self.x.astype(np.float64)
        q = np.asarray(q, np.float64)
        if func.endswith("VectorDistance"):
            return np.sqrt(((x - q) ** 2).sum(axis=1)), False
        dot = x @ q
        norm = np.sqrt((x * x).sum(axis=1)) * np.sqrt(q @ q)
        return np.clip(np.where(norm == 0, 0.0, dot / np.where(norm == 0, 1, norm)), -1, 1), True

    def topk(self, func: str, q) -> tuple[np.ndarray, np.ndarray]:
        """(ids, scores) of the best K live rows."""
        s, hib = self.scores(func, q)
        ids = np.flatnonzero(self.live)
        order = np.argsort(-s[ids] if hib else s[ids], kind="stable")[:K]
        return ids[order], s[ids[order]]


def _close(a, b) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))


def _same_scores(got, want) -> bool:
    return len(got) == len(want) and all(_close(a, b) for a, b in zip(sorted(got), sorted(want)))


def check_topk(model: Model, rows, func, q) -> bool:
    """Every returned row is live and scored right, and the returned scores
    are the K best (ties may resolve either way)."""
    _, want = model.topk(func, q)
    s, _ = model.scores(func, q)
    seen = set()
    for r in rows:
        i = json.loads(r["label"])["id"]
        if (i in seen or not model.live[i] or r["label"] != model.label_of(i)
                or not _close(r["score"], s[i])):
            return False
        seen.add(i)
    return _same_scores([r["score"] for r in rows], want)


def check_grouped(model: Model, rows, func, q, group_limit: int, mask) -> bool:
    """Per group the best ``group_limit`` eligible rows, reduced to the
    store's group score (sum when higher is better, else sum / n^2); the
    returned groups must be the K best."""
    s, hib = model.scores(func, q)
    groups = {}
    for c in range(N_CLUSTERS):
        ids = np.flatnonzero(model.live & mask & (model.cluster == c))
        if not len(ids):
            continue
        top = np.sort(s[ids])[::-1][:group_limit] if hib else np.sort(s[ids])[:group_limit]
        total = float(top.sum())
        groups[group_label(c)] = total if hib else total / (len(top) ** 2)
    best = sorted(groups.values(), reverse=hib)[:K]
    for r in rows:
        if r["group_label"] not in groups or not _close(r["group_score"], groups[r["group_label"]]):
            return False
    return _same_scores([r["group_score"] for r in rows], best)


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _stamp(path: str):
    try:
        with open(path) as f:
            return int(f.read())
    except OSError:
        return None


class StoreRun:
    def __init__(self, ctx, spark, meter, model):
        from veri_spark.operators.search import SearchConfig
        from veri_spark.store import DatasetConfig, FeatureStore

        self.ctx, self.spark, self.meter, self.model = ctx, spark, meter, model
        self.SearchConfig = SearchConfig
        self.root = os.path.join(ctx.work, "store")
        self.fs = FeatureStore(spark, self.root)
        self.fs.create_dataset(DATASET, DatasetConfig(target_n=0, n_buckets=N_BUCKETS))
        self.failures: list[str] = []
        self.recalls: list[float] = []

    def _search(self, rec, op, vectors, config, cache=False):
        kwargs = {"cache_seconds": CACHE_S} if cache else {}
        df, rec["build_s"], b_jobs = self.meter.call(
            "store.search", lambda: self.fs.search(DATASET, vectors, config, **kwargs), op)
        rows, rec["collect_s"], c_jobs = self.meter.call("store.collect", df.collect, op)
        rec["jobs"] = b_jobs + c_jobs
        return rows

    def execute(self, op: dict, round_tag: str) -> dict:
        """Run one operation and check its result. Returns its record."""
        kind, m = op["kind"], self.model
        tag = f"{round_tag}.{op['name']}"
        rec = {"name": op["name"], "kind": kind, "jobs": [], "build_s": 0.0, "collect_s": 0.0}
        before = _snapshot(self.root)
        if kind == "ann":
            rec["stale"] = _stamp(os.path.join(self.root, f"{DATASET}.index.mutver")) != _stamp(
                os.path.join(self.root, f"{DATASET}.mutver"))
        ok = True
        try:
            with self.ctx.tracer.span(f"store.{kind}", tag):
                if kind == "exact":
                    if op.get("filtered"):
                        cfg = self.SearchConfig(score_func=op["func"], filters=("meta.src",),
                                                group_filters=("tier",), group_limit=3)
                        rows = self._search(rec, tag, [op["q"].tolist()], cfg)
                        ok = check_grouped(m, rows, op["func"], op["q"], 3, m.meta & m.gold)
                    else:
                        rows = self._search(rec, tag, [op["q"].tolist()],
                                            self.SearchConfig(score_func=op["func"]), op["cache"])
                        ok = check_topk(m, rows, op["func"], op["q"])
                elif kind == "ann":
                    rows = self._search(rec, tag, [op["q"].tolist()],
                                        self.SearchConfig(score_func=op["func"]))
                    exact_ids, _ = m.topk(op["func"], op["q"])
                    got = {json.loads(r["label"])["id"] for r in rows}
                    self.recalls.append(len(got & set(exact_ids.tolist())) / K)
                    ok = len(rows) == K
                elif kind == "multi":
                    rows = self._search(rec, tag, [q.tolist() for q in op["qs"]],
                                        self.SearchConfig(score_func=op["func"]))
                    by_q = {}
                    for r in rows:
                        by_q.setdefault(r["query_id"], []).append(r)
                    ok = sorted(by_q) == list(range(len(op["qs"]))) and all(
                        check_topk(m, by_q[i], op["func"], q) for i, q in enumerate(op["qs"]))
                elif kind == "upsert":
                    m.apply_upsert(op)
                    rows = m.rows(op["new_ids"]) + m.rows(op["bump_ids"])
                    rec["user_bytes"] = sum(4 * DIM + len(g) + len(lb) + 8 for _, g, lb, _ in rows)
                    batch = self.spark.createDataFrame(
                        rows, "feature array<float>, group_label string, label string, "
                        "version bigint")
                    n_in, rec["build_s"], rec["jobs"] = self.meter.call(
                        "store.insert", lambda: self.fs.insert(DATASET, batch), tag)
                    ok = n_in == len(rows)
                elif kind == "delete":
                    labels = [m.label_of(i) for i in op["ids"]]
                    m.live[op["ids"]] = False
                    rec["user_bytes"] = sum(len(lb) for lb in labels)
                    keys = self.spark.createDataFrame([(lb,) for lb in labels], "label string")
                    _, rec["build_s"], rec["jobs"] = self.meter.call(
                        "store.delete", lambda: self.fs.delete(DATASET, keys, ["label"]), tag)
                else:
                    n_idx, rec["build_s"], rec["jobs"] = self.meter.call(
                        "store.refresh_index",
                        lambda: self.fs.refresh_index(DATASET, if_needed=True), tag)
                    ok = isinstance(n_idx, int) and n_idx > 0
        except Exception as ex:  # a failed operation counts; the run goes on
            self.failures.append(f"{tag}: {type(ex).__name__}: {ex}"[:300])
            ok = None
        rec["latency_s"] = rec["build_s"] + rec["collect_s"]
        after = _snapshot(self.root)
        changed = [p for p, v in after.items() if before.get(p) != v]
        removed = [p for p in before if p not in after]
        if kind in ("upsert", "delete"):
            rec["bytes_written"] = sum(after[p][0] for p in changed)
            rec["buckets"] = len({
                part for p in changed + removed
                for part in p.split(os.sep)[1:2] if p.startswith(DATASET + os.sep)
                and part.startswith("bucket=")})
        if kind == "exact" and op["cache"]:
            rec["cache_hit"] = not any(p.startswith("_cache") for p in changed)
        if ok is False:
            self.failures.append(f"{tag}: result differs from the NumPy brute force")
        return rec

    def final_check(self) -> bool:
        got = sorted(r["label"] for r in self.fs.export(DATASET).select("label").collect())
        want = sorted(self.model.label_of(i) for i in np.flatnonzero(self.model.live))
        return got == want

    def storage(self) -> tuple[int, int]:
        """(parquet data files, their bytes) of the dataset."""
        files = [(p, v) for p, v in _snapshot(os.path.join(self.root, DATASET)).items()
                 if p.endswith(".parquet")]
        return len(files), sum(v[0] for _, v in files)


def run(ctx):
    spark, get_spark_s = ctx.open_session()
    meter = Meter(spark, ctx.tracer)
    with ctx.tracer.span("setup", "setup"):
        centres, clusters, vecs = make_corpus(ctx.seed)
        model = Model(clusters, vecs)
        store = StoreRun(ctx, spark, meter, model)
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus_path = os.path.join(ctx.work, "corpus.parquet")
        pq.write_table(pa.table({
            "feature": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM)
                         .cast(pa.list_(pa.float32())),
            "group_label": [group_label(int(c)) for c in clusters],
            "label": [label(i, 0) for i in range(N_ROWS)],
            "version": pa.array(np.zeros(N_ROWS, np.int64)),
        }), corpus_path)
        corpus = spark.read.parquet(corpus_path)
        _, insert0_s, _ = meter.call("store.insert", lambda: store.fs.insert(DATASET, corpus), "setup")

    rounds = []

    def next_round():
        r = len(rounds)
        t0 = time.perf_counter()
        recs = [store.execute(op, f"r{r}") for op in make_round(ctx.seed, centres, r)]
        rounds.append((time.perf_counter() - t0, recs))

    with ctx.tracer.span("setup", "setup"):
        for _ in range(WARM_UP_ROUNDS):
            next_round()
    setup_s = time.perf_counter() - ctx.t_start
    ctx.log("set up")

    t_region = time.perf_counter()
    deadline = t_region + ctx.seconds
    while len(rounds) < WARM_UP_ROUNDS + MIN_ROUNDS or (
            time.perf_counter() < deadline and len(rounds) < MAX_ROUNDS):
        next_round()
    region_s = time.perf_counter() - t_region
    ctx.log(f"timed region: {len(rounds) - WARM_UP_ROUNDS} rounds in {region_s:.1f} s")

    def jobs_of(recs):
        return [j for r in recs for j in r["jobs"]]

    warm_up = [r for _, recs in rounds[:WARM_UP_ROUNDS] for r in recs]
    region = [r for _, recs in rounds[WARM_UP_ROUNDS:] for r in recs]
    latencies = {}
    for r in region:
        latencies.setdefault(r["name"], []).append(r["latency_s"])
    metrics = {
        "setup_s": setup_s,
        "warm_pass_s": median_pass(latencies),
        "spark_jobs": len(jobs_of(
            r for _, recs in rounds[:WARM_UP_ROUNDS + MIN_ROUNDS] for r in recs)),
    }

    extras = []
    if ctx.trace:
        # per-layer probes, after the timed region so both modes time the same work
        trivial_ms = meter.trivial_job_ms()
        extras = [store.execute(op, "x") for op in make_extras(ctx.seed, centres)]
    attempted = len(warm_up) + len(region) + len(extras) + 1
    if not store.final_check():
        store.failures.append("final dataset contents differ from the model")
    failures = store.failures
    ctx.log("final contents checked")
    if not ctx.trace:
        return metrics, attempted, failures

    region_jobs = jobs_of(region)
    meter.settle(region_jobs + jobs_of(extras))
    meter.job_spans()
    spans = ctx.tracer.with_self_times()

    def of(name, recs=region):
        return [r for r in recs if r["name"] == name]

    def ms(recs, key="latency_s"):
        return median([r[key] * 1000.0 for r in recs])

    def jobs_per(recs):
        return sum(len(r["jobs"]) for r in recs) / max(len(recs), 1)

    def cpu_ms(recs):
        return median([meter.stage_totals(r["jobs"])["executor_cpu_s"] * 1000.0 for r in recs])

    exact = [r for r in region if r["kind"] == "exact"]
    anns = [r for r in extras if r["kind"] == "ann"]
    writes = of("upsert") + of("delete", extras)
    cached = [r for r in exact if "cache_hit" in r]
    n_files, data_bytes = store.storage()
    cached_mb, _ = meter.cached_storage()
    layer = {
        "session.get_spark_s": get_spark_s,
        "spark.trivial_job_ms": trivial_ms,
        "spark.cached_mb": cached_mb,
        **spark_layer(meter, region_jobs, ctx.cpus),
        "store.search_p50_ms": ms(exact),
        "store.search_build_ms": ms(exact, "build_s"),
        "store.search_collect_ms": ms(exact, "collect_s"),
        "store.search_jobs": jobs_per(exact),
        "store.result_cache_hit_ratio": sum(r["cache_hit"] for r in cached) / len(cached),
        "store.ann_search_p50_ms": ms(of("ann", extras)),
        "store.ann_fresh_ms": ms(of("ann_fresh", extras)),
        "store.ann_search_jobs": jobs_per(of("ann", extras)),
        "store.ann_stale_share": sum(r["stale"] for r in anns) / len(anns),
        "store.ann_recall_at_10": sum(store.recalls) / len(store.recalls),
        "store.ops_per_s": len(region) / region_s,
        "store.first_round_s": rounds[0][0],
        "store.multi_search_ms": ms(of("multi", extras)),
        "store.refresh_index_ms": ms(of("refresh", extras)),
        "store.refresh_index_jobs": jobs_per(of("refresh", extras)),
        "store.initial_insert_s": insert0_s,
        "store.insert_ms": ms(of("upsert")),
        "store.insert_jobs": jobs_per(of("upsert")),
        "store.delete_ms": ms(of("delete", extras)),
        "store.delete_jobs": jobs_per(of("delete", extras)),
        "store.buckets_rewritten_per_write": sum(r["buckets"] for r in writes) / len(writes),
        "store.write_amplification": sum(r["bytes_written"] for r in writes)
        / sum(r["user_bytes"] for r in writes),
        "store.files_end": n_files,
        "store.bytes_per_live_row": data_bytes / int(model.live.sum()),
        "operators.search_cpu_ms": cpu_ms(exact),
        "operators.ann_cpu_ms": cpu_ms(of("ann", extras)),
    }
    ctx.write_trace(spans, {"ops": [{**r, "jobs": len(r["jobs"])} for r in region + extras]})
    return {**ctx.traced(metrics), **layer}, attempted, failures
