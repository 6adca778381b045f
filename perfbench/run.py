"""End-to-end and per-layer benchmark of the web-dedup engine.

Run from the repository root::

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for why each one was chosen):

* ``batch_mixed``   - ``DedupPipeline.run`` over a seeded planted corpus;
* ``entry_queries`` - one pass over 13 ``queries()`` entries on seeded tables.

``--trace 0`` times the workload in a closed loop for ``--seconds`` seconds
with tracing and the Spark event log off, and reports the end-to-end
metrics. ``--trace 1`` runs one untraced reference operation, then the traced
sweep over every layer, and reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it is
the run record (host, versions, inputs, every timing), which is also written
to ``perfbench/results/``. A failed correctness check makes ``correct``
false and the exit code 1. Outside a repository checkout the command exits
with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("batch_mixed", "entry_queries")
STAGES = ("extract", "signatures", "buckets", "edges", "components")
# the queries() entries that call package operators: bench.py's HEADLINE
# entries minus its eight TPC-H/event queries (plain Spark SQL), plus five
ENTRY_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "dedup_simhash_title",
    "containment_substring",
    "decontaminate_docs",
    "text_quality",
    "text_token_stats",
    "text_fingerprints",
    "ann_cosine_topk",
    "embedding_neardup",
    "embedding_neardup_lsh",
    "ann_ivf",
]

END_TO_END = {
    "setup_s": "s",
    "result_s": "s",
    "peak_py_pss_mb": "MB",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
}


def per_layer_units(queries: list[str]) -> dict[str, str]:
    """Every per-layer metric name -> unit, in a fixed order."""
    m: dict[str, str] = {}
    for k in ("extract", "normalize", "shingle", "minhash", "simhash", "substring"):
        m[f"kernel.{k}_us"] = "us"
    for s in STAGES:
        m.update({
            f"stage.{s}_s": "s", f"stage.{s}_rows": "count", f"stage.{s}_cpu_s": "s",
            f"stage.{s}_shuffle_mb": "MB", f"stage.{s}_tasks": "count",
            f"stage.{s}_jobs": "count", f"stage.{s}_util": "ratio",
        })
    for f in ("minhash", "contain", "simhash"):
        m[f"op.{f}_cands"] = "count"
        m[f"op.{f}_s"] = "s"
    m.update({"op.verify_s": "s", "op.verify_yield": "ratio"})
    for r in ("exact", "minhash", "contain", "simhash"):
        m[f"op.edges_{r}"] = "count"
    m.update({
        "op.components_s": "s", "op.clusters": "count", "op.largest_cluster": "count",
        "gate.candidate_pairs": "count", "gate.verify_broadcast": "bool",
    })
    for s in STAGES:
        m[f"store.{s}_mb"] = "MB"
    m["store.bytes_per_input_byte"] = "ratio"
    m.update({
        "stream.first_batch_s": "s", "stream.batch_growth": "ratio",
        "stream.batch_jobs": "count", "stream.batch_cpu_s": "s",
        "stream.batch_shuffle_mb": "MB", "stream.compact_jobs": "count",
        "stream.compact_cpu_s": "s", "stream.compact_shuffle_mb": "MB",
        "stream.deep_merged": "count", "stream.edges_rows": "count",
        "stream.state_mb": "MB", "stream.state_bytes_per_input_byte": "ratio",
    })
    for q in queries:
        m[f"query.{q}_s"] = "s"
        m[f"query.{q}_shuffle_mb"] = "MB"
    m.update({"spark.failed_tasks": "count", "spark.spill_mb": "MB", "trace.overhead": "ratio"})
    return m


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _proc_tree(root_pid: int) -> list[tuple[int, list[str], bool]]:
    """(pid, /proc stat fields from ``state`` on, is the JVM) for
    ``root_pid``'s descendants (``root_pid`` itself excluded)."""
    children: dict[int, list[int]] = {}
    stat: dict[int, tuple[list[str], bool]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        children.setdefault(int(fields[1]), []).append(int(d))
        stat[int(d)] = (fields, comm.endswith("(java"))
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        if pid in stat:
            out.append((pid, *stat[pid]))
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's descendants (the JVM and
    the Python workers), reaped children included."""
    ticks = sum(sum(int(x) for x in f[11:15]) for _pid, f, _jvm in _proc_tree(os.getpid()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) / 1e3
    except (OSError, StopIteration):
        return 0.0


class MemSampler:
    """Peak memory of the process tree, sampled from /proc every 0.2 s: the
    JVM's RSS, and the PSS of the Python side (this driver and the Python
    workers; PSS, because forked workers share pages with their parent)."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_jvm = self.peak_py = self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        page_mb = os.sysconf("SC_PAGE_SIZE") / 1e6
        while not self._stop.is_set():
            jvm, py = 0.0, _pss_mb(os.getpid())
            for pid, fields, is_jvm in _proc_tree(os.getpid()):
                if is_jvm:
                    jvm += int(fields[21]) * page_mb
                else:
                    py += _pss_mb(pid)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_py = max(self.peak_py, py)
            self.peak = max(self.peak, jvm + py)
            self._stop.wait(self.period)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def spin_s() -> float:
    """Wall of a fixed pure-Python loop: the host's single-core speed at the
    moment. Co-tenants and clock changes move it; steal ticks miss some."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t0


def host_sample() -> dict:
    import bench

    return {
        "t": time.time(),
        "steal_ticks": bench._host_steal_ticks(),
        "loadavg": list(os.getloadavg()),
        "spin_s": spin_s(),
    }


def source_revision() -> str:
    """Git revision when the checkout is a repository, else a digest of the
    package and entry-module sources (the benchmark's own files excluded)."""
    import subprocess

    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except OSError:
            pass
    h = hashlib.sha1()
    for base in ("infoscience_imports_spark", "__spark_entry__.py", "bench.py"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, _d, fs in os.walk(p) for f in fs if f.endswith(".py")
        )
        for fp in files:
            h.update(os.path.relpath(fp, ROOT).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return "src-" + h.hexdigest()[:12]


class Bench:
    """State shared by the workloads: options, session, checks, record."""

    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.results = os.path.join(HERE, "results")
        self.spark = None
        self.evdir: str | None = None
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": int(self.trace),
            "seconds": args.seconds,
        }
        from spans import Spans

        self.spans = Spans(run_id=f"{args.workload}-{args.seed}-{int(time.time())}")

    # -- session ---------------------------------------------------------------
    def start_session(self, eventlog: bool = False):
        """Start the Spark session with bench.py's settings; it keeps every
        write inside the work directory."""
        from infoscience_imports_spark.session import get_spark

        conf = {"spark.local.dir": os.path.join(self.work, "spark-local")}
        if eventlog:
            self.evdir = os.path.join(self.work, "eventlog")
            os.makedirs(self.evdir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.evdir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=max(2 * self.cpus, 8),
            extra_conf=conf,
        )
        return self.spark

    def stop_session(self) -> str | None:
        """Stop the session; returns its application id."""
        if self.spark is None:
            return None
        from infoscience_imports_spark import caching

        caching.release_all()
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_id

    def shutdown_jvm(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has ended
        (its Python workers end with it)."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        try:
            gw.shutdown()
        except Py4JError:
            pass  # the gateway connection is already gone
        # the JVM exits when its stdin closes
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- checks ------------------------------------------------------------------
    def op(self) -> None:
        """Count one completed operation (a pipeline run or a query)."""
        self.attempted += 1

    def check(self, name: str, ok: bool, **detail) -> None:
        """Record one correctness check; a failed one counts as a failed op."""
        self.checks.append({"check": name, "ok": bool(ok), **detail})
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] correctness check failed: {name} {detail}", file=sys.stderr)

    # -- setup -------------------------------------------------------------------
    def setup(self, materialize) -> float:
        """Start the session, then materialize the inputs once. Returns the
        wall of both; the workload adds its warm-up."""
        t0 = time.monotonic()
        # a traced run keeps the event log on from the start, so the traced
        # sweep runs in the same warmed-up session as its reference op
        self.start_session(eventlog=self.trace)
        start_s = time.monotonic() - t0
        t0 = time.monotonic()
        materialize(os.path.join(self.work, "input"))
        mat_s = time.monotonic() - t0
        self.record["setup"] = {"session_start_s": start_s, "materialize_s": mat_s}
        return start_s + mat_s

    def closed_loop(self, op) -> list[float]:
        """Call ``op(i)`` back to back until ``--seconds`` have passed (at
        least once; exactly once in a traced run, whose op is the reference
        for ``trace.overhead``); returns the per-call walls and records the
        per-call CPU seconds of the JVM and Python workers. Memory is sampled
        meanwhile."""
        seconds = 0 if self.trace else self.seconds
        walls: list[float] = []
        cpus: list[float] = []
        h0 = host_sample()
        with MemSampler() as mem:
            t_start = time.monotonic()
            while not walls or time.monotonic() - t_start < seconds:
                c0, t0 = tree_cpu_s(), time.monotonic()
                op(len(walls))
                walls.append(time.monotonic() - t0)
                cpus.append(tree_cpu_s() - c0)
        h1 = host_sample()
        self.record["host_window"] = {
            "before": h0,
            "after": h1,
            "steal_coresec": (h1["steal_ticks"] - h0["steal_ticks"]) / 100.0,
        }
        self.record["peak_mem_mb"] = {"tree": mem.peak, "jvm_rss": mem.peak_jvm, "py_pss": mem.peak_py}
        self.record["op_walls_s"] = walls
        self.record["op_cpu_s"] = cpus
        return walls

    def group_metrics(self) -> dict[str, dict]:
        """Stop the traced session and attribute its event log to groups."""
        from spans import group_metrics

        app_id = self.stop_session()
        return group_metrics(self.evdir, app_id, self.spans)


def _emit(b: Bench, metrics: dict[str, float], units: dict[str, str]) -> int:
    correct = b.failed == 0
    out = {
        "correct": correct,
        "attempted": max(1, b.attempted),
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    b.record.update({"checks": b.checks, "result": out})
    os.makedirs(b.results, exist_ok=True)
    stem = f"{b.args.workload}-seed{b.seed}-trace{int(b.trace)}"
    with open(os.path.join(b.results, stem + ".json"), "w") as f:
        json.dump(b.record, f, indent=1, default=str)
    if b.trace:
        b.spans.dump(os.path.join(b.results, stem + ".spans.jsonl"))
    print("perfbench-record " + json.dumps(b.record, default=str), flush=True)
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sizes (defaults are the benchmark's; the smoke test shrinks them)
    ap.add_argument("--pages", type=int, default=4000, help="batch_mixed corpus pages")
    ap.add_argument("--stream-batches", type=int, default=3)
    ap.add_argument("--docs", type=int, default=500, help="entry_queries documents (embeddings: 2 per 5)")
    ap.add_argument("--queries", default="", help="comma list; default: ENTRY_QUERIES")
    ap.add_argument(
        "--plant", choices=("unique_merge", "query_result", "lost_edge"),
        help="plant a wrong answer before the correctness gate (gate self-test)",
    )
    args = ap.parse_args(argv)

    needed = ("infoscience_imports_spark/__init__.py", "__spark_entry__.py", "bench.py", "scripts/check_parity.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a repository checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    b = Bench(args)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(b.work, d), exist_ok=True)
    # keep every temporary file of Python, the JVMs and Spark in the work dir
    tmp = os.path.join(b.work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )
    import pyspark

    queries = [q for q in args.queries.split(",") if q] or ENTRY_QUERIES
    b.record["host"] = {
        "nproc": os.cpu_count(),
        "cpus_used": b.cpus,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "revision": source_revision(),
        "platform": platform.platform(),
    }
    b.record["host_before"] = host_sample()
    try:
        if args.workload == "batch_mixed":
            import batch as wl
        else:
            import entry as wl
        metrics = wl.run(b, queries)
    finally:
        b.shutdown_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
        parent = os.path.dirname(b.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    b.record["host_after"] = host_sample()
    units = per_layer_units(queries) if b.trace else END_TO_END
    return _emit(b, metrics, units)


if __name__ == "__main__":
    sys.exit(main())
