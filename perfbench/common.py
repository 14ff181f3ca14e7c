"""Shared helpers: statistics, process-tree memory, Spark session set-up,
and the per-run scratch directory."""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def load_config() -> dict:
    with open(os.path.join(BENCH_DIR, "config.json"), encoding="utf-8") as f:
        return json.load(f)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]; 0.0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    k = (len(s) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values) -> float:
    return pct(values, 50)


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return 0.0
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies summed over this machine's CPUs, from
    /proc/stat.  Steal is time the hypervisor gave those CPUs to others."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


# -- memory ------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _walk(root: int, exclude: set[int]):
    """``root`` and its live descendants, less the ``exclude`` subtrees."""
    kids = _children()
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        yield pid
        stack.extend(kids.get(pid, ()))


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers it forks): user + system time of every
    thread, JIT compiler and GC threads included, plus what exited children
    left to their parent.  The kernel charges no stolen time to a process,
    and a thread that waits (for a lock, a Py4J reply, a straggler task or
    a vCPU the hypervisor took away) uses none."""
    total = 0
    for pid in _walk(os.getpid(), set()):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total * _TICK_S


def tree_pss_bytes(root: int, exclude: set[int]) -> int:
    """Proportional set size summed over ``root`` and its descendants,
    minus ``exclude`` subtrees (the load generator is not part of the
    system under test).  PSS, not RSS: forked Python workers share the
    daemon's pages, and summed RSS would count them once per worker."""
    return sum(_pss_bytes(pid) for pid in _walk(root, exclude))


class PeakMemory:
    """Samples the process tree's PSS on a daemon thread."""

    def __init__(self, interval_s: float = 1.0):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me, self.exclude))
            self._stop.wait(self.interval_s)

    def start(self) -> PeakMemory:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(5)
        return self.peak / 2**20


# -- run directory and Spark -------------------------------------------------

class RunDir:
    """Scratch space for one run inside the checkout, removed at exit.

    Spark, the JVM and Python's ``tempfile`` are pointed here so the run
    writes nothing outside the checkout."""

    def __init__(self, workload: str):
        self.path = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.sub("tmp"))
        os.makedirs(self.sub("spark-local"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def configure_env(self, spark_cpus: int) -> None:
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(spark_cpus)
        env["TMPDIR"] = self.sub("tmp")
        env["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        # UsePerfData off: HotSpot would write /tmp/hsperfdata_<user>/<pid>
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.sub('tmp')} -XX:-UsePerfData"
        # Python workers import perfbench.trace for the split-stage timer
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.path)  # spark-warehouse / derby land here

    def remove(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass


def start_spark(app_name: str):
    """The repo's own session factory and heap settings, quiet console."""
    from opensnowcat_collector_spark.session import get_spark

    spark = get_spark(app_name=app_name, extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def note(t0: float, what: str) -> None:
    """Progress line on stderr: seconds since process start."""
    import sys

    print(f"perfbench: {time.perf_counter() - t0:7.2f}s {what}", file=sys.stderr, flush=True)


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for
    the JVM (and the Python workers it forked) to exit."""
    import subprocess
    import sys

    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
