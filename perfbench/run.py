"""Cold/warm benchmark of the engine, one workload per fresh process.

    python3 perfbench/run.py --workload iterative --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout. The process builds its inputs once
per checkout (``gen_data.py``, cached in ``perfbench/.data``), starts a
session on ``local[nproc]``, then runs the workload's fixed query list
as a closed loop (one client, one query at a time, fixed order): one
cold pass, then warm passes until ``--seconds`` have passed since the
cold pass began, at least two. Every output is checked against the
oracle digests in ``digests.json`` or, for ``kmeans_fit_embeddings``,
against a NumPy Lloyd's loop. The last line of stdout is one JSON
record; with ``--trace 1`` it holds the per-layer metrics instead of
the end-to-end ones, and the spans go to ``perfbench/.out/``.
README.md defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

#: Each workload's fixed query list; README.md says why each exists.
WORKLOADS = {
    "tpch": [
        "q1_pricing_summary",
        "q3_top_orders",
        "q5_local_supplier_revenue",
        "q9_profit_by_nation_year",
        "q18_large_orders",
        "q21_sole_supplier_orders",
    ],
    "iterative": [
        "kmeans_fit_embeddings",
        "user_bfs_hops",
        "streaming_dedup_events",
        "streaming_ivm_rollup_orders",
    ],
}
#: tables each workload's queries read, for the sources probe
TABLES_READ = {
    "tpch": ["lineitem", "orders", "customer", "supplier", "part", "nation", "region"],
    "iterative": ["embeddings", "events", "orders"],
}
ALL_QUERIES = [q for qs in WORKLOADS.values() for q in qs]

#: the benchmark's own kmeans_fit call: 2000x64 embeddings
KMEANS_QUERY = "kmeans_fit_embeddings"
KMEANS_K, KMEANS_ITERS = 8, 5
#: max abs centroid difference allowed against the NumPy loop
KMEANS_ATOL = 1e-9

#: one warm pass read with a quartile spread of 0.27 in CPU seconds over
#: ten runs of tpch: JIT compilation lands in it or not
MIN_WARM_PASSES = 2
DRIVER_MEMORY = "4g"
DATA_DIR = os.path.join(HERE, ".data", "sf0.1")
OUT_DIR = os.path.join(HERE, ".out")
MB = 1024.0 * 1024.0


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(data_dir: str) -> str:
    """sha256 over the parquet files of a table directory, by name."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_data(expected: str) -> None:
    """Build the input tables once per checkout. Generation runs in a
    child process so this process imports nothing heavy before the
    set-up clock starts."""
    if os.path.isdir(DATA_DIR) and fingerprint(DATA_DIR) == expected:
        return
    tmp = f"{DATA_DIR}.tmp{os.getpid()}"
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), tmp],
                   check=True, stdout=sys.stderr)
    if fingerprint(tmp) != expected:
        shutil.rmtree(tmp)
        _fail("generated tables do not match the fingerprint in digests.json")
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.replace(tmp, DATA_DIR)


def run_env(run_dir: str, seed: int, cpus: int) -> dict:
    """Pin the run environment; returned for the record."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    return {"cpus": cpus, "driver_memory": DRIVER_MEMORY, "local_dirs": local,
            "seed": seed, "conf": conf}


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live process under
    it (the JVM and its Python workers), with their reaped children."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listed
                continue
            procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------- kmeans


def kmeans_inputs(data_dir: str, seed: int):
    """The embeddings as float64 and the seed's initial centroids: rows
    picked without replacement, numbered 0..k-1."""
    import numpy as np
    import pyarrow.parquet as pq

    col = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                        columns=["embedding"]).column(0)
    X = np.asarray(col.to_pylist(), dtype=np.float64)
    rows = np.random.default_rng(seed).choice(len(X), KMEANS_K, replace=False)
    return X, [(i, X[r].tolist()) for i, r in enumerate(rows)]


def numpy_lloyd(X, init, max_iter: int, tol: float):
    """Reference Lloyd's loop with kmeans_fit's rules: nearest centroid by
    expanded squared distance, lowest id on ties, an empty cluster keeps
    its centroid, stop once no coordinate moves more than ``tol``."""
    import numpy as np

    C = np.asarray([v for _, v in init], dtype=np.float64)
    sizes = np.zeros(len(C), dtype=np.int64)
    it = 0
    for it in range(1, max_iter + 1):
        d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
        idx = d.argmin(1)
        sizes = np.bincount(idx, minlength=len(C))
        new = C.copy()
        for k in np.nonzero(sizes)[0]:
            new[k] = X[idx == k].sum(0) / sizes[k]
        moved = np.abs(new - C).max()
        C = new
        if moved <= tol:
            break
    return C, sizes, it


# --------------------------------------------------------------- queries


class Workload:
    """One workload's queries against one session, with their checks."""

    def __init__(self, name: str, spark, seed: int, tracer, expected: dict) -> None:
        from k_means_using_mapreduce_spark.contracts import QUERIES

        self.name, self.spark, self.tracer = name, spark, tracer
        self.queries = WORKLOADS[name]
        self.builders = QUERIES
        self.expected = expected
        self.attempted = self.failed = 0
        if KMEANS_QUERY in self.queries:
            X, self.kmeans_init = kmeans_inputs(DATA_DIR, seed)
            self.kmeans_ref = numpy_lloyd(X, self.kmeans_init, KMEANS_ITERS, 0.0)

    @contextlib.contextmanager
    def _engine(self, name: str, q_span: dict):
        """A probed span around one engine call; its duration (and, when
        tracing, its CPU time) counts toward the query's, also when the
        call raises."""
        cpu0 = tree_cpu_s(os.getpid())
        with self.tracer.span(name, probe=True) as s:
            try:
                yield s
            finally:
                q_span["engine_s"] += time.perf_counter() - s["start"]
                q_span["cpu_s"] += tree_cpu_s(os.getpid()) - cpu0

    def _kmeans(self, q_span: dict) -> bool:
        import numpy as np
        from pyspark.sql import functions as F

        from k_means_using_mapreduce_spark.operators.kmeans import kmeans_fit
        from k_means_using_mapreduce_spark.sources.loaders import load_table

        with self._engine("kmeans.fit", q_span) as s:
            feats = load_table(self.spark, DATA_DIR, "embeddings").select(
                F.col("embedding").cast("array<double>").alias("features"))
            res = kmeans_fit(feats, KMEANS_K, max_iter=KMEANS_ITERS, tol=0.0,
                             initial_centroids=self.kmeans_init)
        s["iterations"] = res.iterations
        q_span["rows"] = len(res.centroids)
        C, sizes, iters = self.kmeans_ref
        got = np.asarray([v for _, v in res.centroids])
        return (res.iterations == iters
                and [res.cluster_sizes[c] for c, _ in res.centroids] == sizes.tolist()
                and float(np.abs(got - C).max()) <= KMEANS_ATOL)

    def _registry(self, name: str, q_span: dict) -> bool:
        with self._engine("contracts.build", q_span):
            df = self.builders[name](self.spark, DATA_DIR)
        with self._engine("exec.collect", q_span):
            rows = df.collect()
        q_span["rows"] = len(rows)
        return stats.digest(df.columns, [r.asDict() for r in rows]) == self.expected[name]

    def run_pass(self, kind: str) -> tuple[float, float]:
        """One pass over the query list. Returns its wall and CPU time
        inside engine calls, without the output checks."""
        total = cpu = 0.0
        with self.tracer.span("pass", kind=kind):
            for q in self.queries:
                self.attempted += 1
                with self.tracer.span("query", query=q, engine_s=0.0, cpu_s=0.0) as qs:
                    try:
                        ok = self._kmeans(qs) if q == KMEANS_QUERY else self._registry(q, qs)
                    except Exception:
                        traceback.print_exc()
                        ok = False
                total += qs["engine_s"]
                cpu += qs["cpu_s"]
                print(f"perfbench: {kind} {q} {qs['engine_s']:.3f} s", file=sys.stderr)
                if not ok:
                    self.failed += 1
                    print(f"perfbench: {q} failed its output check", file=sys.stderr)
        print(f"perfbench: pass {kind} {total:.3f} s, cpu {cpu:.3f} s", file=sys.stderr)
        return total, cpu

    def sources_probe(self, kind: str) -> None:
        """load_table + schema, then a noop scan, of each table read."""
        from k_means_using_mapreduce_spark.sources.loaders import load_table

        for t in TABLES_READ[self.name]:
            with self.tracer.span("sources.load", kind=kind, table=t):
                df = load_table(self.spark, DATA_DIR, t)
                df.schema
            with self.tracer.span("sources.scan", kind=kind, table=t, probe=True):
                df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- metrics


#: per-pass timings, each recorded as <name>.cold and <name>.warm
PASS_METRICS = (
    "sources.load_s", "sources.scan_s", "contracts.build_s", "exec.collect_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s", "spark.noncpu_s",
    "spark.busy_frac", "spark.s_per_job", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.bookkeeping_ms", "kmeans.fit_s", "process.cpu_s",
    "trace.pass_s",
)
#: counts, from the median warm pass
COUNT_METRICS = (
    "contracts.build_jobs", "exec.jobs", "exec.result_rows", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.result_mb", "streaming.batches", "streaming.input_rows",
    "kmeans.jobs_per_iter", "storage.pins_added", "storage.pinned_mb",
)
SESSION_METRICS = ("session.import_s", "session.start_s", "session.first_scan_s")
RUN_METRICS = ("storage.pinned_mb_end", "process.peak_rss_mb", "trace.probe_s", "fail_frac")
END_TO_END = ("setup_s", "cold_pass_cpu_s", "warm_pass_cpu_s", "retained_mb_end")
#: spans that hold a query's build: a registry builder or kmeans_fit
BUILD_SPANS = ("contracts.build", "kmeans.fit")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in README.md order.
    A layer or query the workload does not reach reads 0."""
    names = list(SESSION_METRICS)
    names += [f"{n}.{k}" for n in PASS_METRICS for k in ("cold", "warm")]
    names += list(COUNT_METRICS) + list(RUN_METRICS)
    for q in ALL_QUERIES:
        names += [f"q.{q}.s.cold", f"q.{q}.s.warm", f"q.{q}.jobs"]
    return names


def unit_of(name: str) -> str:
    last = name.removesuffix(".cold").removesuffix(".warm").rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last in ("s", "s_per_job") or last.endswith("_s"):
        return "s"
    if "_mb" in last:
        return "MB"
    if last.endswith("_frac"):
        return "frac"
    return "count"


def layer_metrics(spans: list[dict], setup: dict, passes: list[float],
                  cpus: int) -> dict[str, float]:
    """Fold the spans of a traced run into its per-layer metrics."""
    from tracing import STAGE_KEYS

    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        kids.setdefault(s["parent"], []).append(i)

    def subtree(i: int) -> list[int]:
        out, todo = [], list(kids.get(i, []))
        while todo:
            j = todo.pop()
            out.append(j)
            todo += kids.get(j, [])
        return sorted(out)

    def dur(ss) -> float:
        return sum(s["end"] - s["start"] for s in ss)

    m = {f"session.{k}": v for k, v in setup.items()}
    pass_ids = [i for i, s in enumerate(spans) if s["name"] == "pass"]
    # the warm pass whose time is the median (the lower middle one)
    mid = sorted(range(1, len(passes)), key=passes.__getitem__)[(len(passes) - 2) // 2]
    pass_cpu = [sum(spans[i].get("cpu_s", 0.0) for i in subtree(pid)) for pid in pass_ids]
    for kind, n in (("cold", 0), ("warm", mid)):
        pid, wall = pass_ids[n], passes[n]
        inside = [spans[i] for i in subtree(pid)]
        leaves = [s for s in inside if "spark" in s]
        sp = {k: sum(s["spark"][k] for s in leaves) for k in STAGE_KEYS}
        st = {k: sum(s["streaming"][k] for s in leaves) for k in stats.fold_progress([])}
        fits = [s for s in leaves if s["name"] == "kmeans.fit"]
        sources = [s for s in spans if s.get("kind") == kind]
        queries = {spans[i]["query"]: i for i in subtree(pid) if spans[i]["name"] == "query"}
        t = {
            "sources.load_s": dur(s for s in sources if s["name"] == "sources.load"),
            "sources.scan_s": dur(s for s in sources if s["name"] == "sources.scan"),
            "contracts.build_s": dur(s for s in leaves if s["name"] in BUILD_SPANS),
            "exec.collect_s": dur(s for s in leaves if s["name"] == "exec.collect"),
            "spark.executor_run_s": sp["executor_run_s"],
            "spark.executor_cpu_s": sp["executor_cpu_s"],
            "spark.gc_s": sp["gc_s"],
            "spark.noncpu_s": sp["executor_run_s"] - sp["executor_cpu_s"] - sp["gc_s"],
            "spark.busy_frac": sp["executor_run_s"] / (wall * cpus),
            "spark.s_per_job": wall / sp["jobs"] if sp["jobs"] else 0.0,
            "streaming.trigger_ms": st["trigger_ms"],
            "streaming.add_batch_ms": st["add_batch_ms"],
            "streaming.bookkeeping_ms": st["bookkeeping_ms"],
            "kmeans.fit_s": dur(fits),
            "process.cpu_s": pass_cpu[0] if kind == "cold" else stats.median(pass_cpu[1:]),
            "trace.pass_s": wall if kind == "cold" else stats.median(passes[1:]),
        }
        m.update({f"{k}.{kind}": v for k, v in t.items()})
        for q in ALL_QUERIES:
            i = queries.get(q)
            m[f"q.{q}.s.{kind}"] = spans[i]["engine_s"] if i is not None else 0.0
            if kind == "warm":
                m[f"q.{q}.jobs"] = sum(len(spans[j].get("job_ids", ()))
                                       for j in subtree(i)) if i is not None else 0
        if kind == "warm":
            m.update({
                "contracts.build_jobs": sum(s["spark"]["jobs"] for s in leaves if s["name"] in BUILD_SPANS),
                "exec.jobs": sum(s["spark"]["jobs"] for s in leaves if s["name"] == "exec.collect"),
                "exec.result_rows": sum(spans[i].get("rows", 0) for i in queries.values()),
                **{f"spark.{k}": sp[k] for k in ("jobs", "stages", "tasks", "shuffle_write_mb",
                                                 "shuffle_read_mb", "spill_mb", "result_mb")},
                "streaming.batches": st["batches"],
                "streaming.input_rows": st["input_rows"],
                "kmeans.jobs_per_iter": (sum(s["spark"]["jobs"] for s in fits)
                                         / sum(s["iterations"] for s in fits)) if fits else 0.0,
                "storage.pins_added": sum(s["pins_added"] for s in leaves),
                "storage.pinned_mb": max((s["pinned_mb"] for s in leaves), default=0.0),
            })
    return m


# ------------------------------------------------------------------ main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "k_means_using_mapreduce_spark", "__init__.py")):
        _fail(f"no k_means_using_mapreduce_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    with open(os.path.join(HERE, "digests.json")) as f:
        digests = json.load(f)
    ensure_data(digests["data_fingerprint"])

    # the program and its JVM print to stdout (streaming checkpoint
    # paths); only the record may reach it
    record_fd = os.dup(1)
    os.dup2(2, 1)
    run_dir = os.path.join(HERE, ".run", str(os.getpid()))
    cpus = len(os.sched_getaffinity(0))
    env = run_env(run_dir, args.seed, cpus)
    spark = None
    try:
        # ------------------------------------------------------- set-up
        t0, cpu_t0 = time.perf_counter(), tree_cpu_s(os.getpid())
        import k_means_using_mapreduce_spark.contracts  # noqa: F401
        from k_means_using_mapreduce_spark.contracts import streaming_queries
        from k_means_using_mapreduce_spark.session import get_spark
        from k_means_using_mapreduce_spark.sources.loaders import load_table

        t1 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=env["conf"])
        t2 = time.perf_counter()
        load_table(spark, DATA_DIR, "lineitem").count()
        t3 = time.perf_counter()
        setup_cpu = tree_cpu_s(os.getpid()) - cpu_t0
        setup = {"import_s": t1 - t0, "start_s": t2 - t1, "first_scan_s": t3 - t2}
        # the streaming contracts stage checkpoints in /dev/shm when it is
        # writable; keep them in the run directory, the only place this
        # run may write (same pass times on tmpfs and disk on the
        # reference host)
        streaming_queries._scratch = _scratch_in(run_dir)

        # ------------------------------------------------------ passes
        from tracing import Tracer

        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = Workload(args.workload, spark, args.seed, tracer, digests["queries"])
        start = time.perf_counter()
        passes = [wl.run_pass("cold")]
        if args.trace:
            wl.sources_probe("cold")
        while len(passes) <= MIN_WARM_PASSES or time.perf_counter() - start < args.seconds:
            passes.append(wl.run_pass("warm"))
            if args.trace and len(passes) == 2:
                wl.sources_probe("warm")

        # --------------------------------------------------------- end
        if args.trace:
            metrics = layer_metrics(tracer.spans, setup, [w for w, _ in passes], cpus)
            metrics.update({
                "storage.pinned_mb_end": tracer.pinned_mb(),
                "process.peak_rss_mb": _vm_hwm_mb(os.getpid())
                + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
                "trace.probe_s": tracer.probe_s,
                "fail_frac": wl.failed / wl.attempted,
            })
            os.makedirs(OUT_DIR, exist_ok=True)
            path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path)
            print(f"perfbench: spans in {path}", file=sys.stderr)
        else:
            metrics = {
                "setup_s": setup_cpu,
                "cold_pass_cpu_s": passes[0][1],
                "warm_pass_cpu_s": stats.median([c for _, c in passes[1:]]),
                "retained_mb_end": _retained_heap_mb(spark),
            }
        print(f"perfbench: environment {json.dumps(env)}; {len(passes) - 1} warm passes; "
              f"wall before set-up {t0 - t_main:.2f} s, set-up {t3 - t0:.2f} s "
              f"(cpu {setup_cpu:.2f} s), "
              f"passes {time.perf_counter() - start:.2f} s", file=sys.stderr)
        record = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"perfbench: wall {time.perf_counter() - t_main:.2f} s", file=sys.stderr)
    os.dup2(record_fd, 1)
    print(json.dumps(record), flush=True)
    return 0


def _scratch_in(base: str):
    import tempfile

    return lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=base)


def _retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: pinned blocks plus
    whatever driver state the run left behind."""
    import gc

    gc.collect()
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        spark.sparkContext._jvm.java.lang.System.gc()
        time.sleep(0.2)
    return (rt.totalMemory() - rt.freeMemory()) / MB


def _stop(spark) -> None:
    """Stop the session and wait for the JVM, and with it the Python
    workers it started, to exit; also when set-up failed half way."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


if __name__ == "__main__":
    sys.exit(main())
