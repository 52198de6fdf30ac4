"""Spark session lifecycle and the probes the benchmark reads from outside
the program: executed-plan SQL metrics, process memory from /proc, a host
CPU-spin calibration, and an in-memory span tracer."""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import statistics
import subprocess
import tempfile
import time

WARM_HTML = "<html><body><p>warm</p></body></html>"


def confine_to(work_dir: str) -> None:
    """Point every temp file this process, the JVMs and the Python workers
    make at ``work_dir`` (call before pyspark launches the JVM).  The JVMs
    also skip their perf-data file, which would go to /tmp."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp
    tempfile.tempdir = tmp


def start_session(work_dir: str, cores: int):
    """A fresh local[cores] session with the package shipped to the workers
    and every worker warmed (engine imported).  Returns (spark, seconds)."""
    from pyspark.sql import SparkSession

    from htmlcleanup_spark.functions.udf import RESULT_DDL, make_cascade_fn
    from htmlcleanup_spark.plans.extract import _ship_package

    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master("local[%d]" % cores)
        .appName("perfbench-%d" % cores)
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    _ship_package(spark)
    warm = spark.range(0, cores * 2, 1, cores * 2).selectExpr(
        "cast(id as string) as url",
        "timestamp'2024-01-01 00:00:00' as warc_ts",
        "cast('%s' as binary) as html" % WARM_HTML,
        "'en' as lang",
    )
    warm.mapInArrow(make_cascade_fn(), RESULT_DDL).collect()
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched, and every process under
    it, and wait until all of them have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    below = _descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in below:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Have orphaned descendants re-parent to this process (Linux), so that
    reap_descendants() finds and waits for every one of them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def reap_descendants(grace_s: float = 10.0) -> None:
    """Stop every process still below this one (SIGTERM, then SIGKILL after
    ``grace_s``) and wait until each has ended and been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled = set()
    while True:
        live = [p for p in _descendants(me) if _alive(p)]
        for pid in live:
            sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        _reap_zombies()
        if not live:
            return
        time.sleep(0.05)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------

def _status_kb(pid: int, key: str) -> int:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list:
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def python_workers_peak_rss_mb(spark) -> float:
    """Largest VmHWM over the Python daemon and workers under the JVM."""
    peak = 0
    for pid in _descendants(jvm_pid(spark)):
        try:
            with open("/proc/%d/comm" % pid) as f:
                comm = f.read().strip()
        except OSError:
            continue
        if comm.startswith("python"):
            peak = max(peak, _status_kb(pid, "VmHWM"))
    return peak / 1024.0


def jvm_peak_rss_mb(spark) -> float:
    return _status_kb(jvm_pid(spark), "VmHWM") / 1024.0


def spin_ms() -> float:
    """Host CPU-spin calibration: best of 5 runs of a fixed Python loop, so
    a slow or contended host shows up in the run record."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------

def plan_nodes(df) -> list:
    """(node name, {metric: value}) for every node of the executed plan of
    ``df``'s own query execution, through adaptive and query-stage wrappers.
    Read it after an action that runs that execution (collect,
    localCheckpoint)."""
    out = []

    def walk(node):
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def metric_sum(nodes, node_prefix: str, key: str) -> int:
    return sum(m.get(key, 0) for n, m in nodes if n.startswith(node_prefix))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; written out
    by the caller when the benchmark ends."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, run_id: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, run_id: str) -> dict:
        """name -> self time (duration minus what its children cover) for
        the spans of one run; children of a span never overlap."""
        spans = [s for s in self.spans if s["run_id"] == run_id]
        covered = {}
        for s in spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered.get(s["id"], 0.0))
        return out

    def duration(self, run_id: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["run_id"] == run_id and s["name"] == name)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
